package graft.operators

import graft.{Catalog, Q, Tables}
import graft.functions.Hash60.hash60
import graft.functions.VectorFunctions
import graft.streaming.Replay
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Training-data pipeline operators over `documents` / `embeddings`:
  * dedup (exact, MinHash+LSH, SimHash, n-gram Jaccard), similarity search
  * (brute-force cosine top-k), and text analysis (token counting, quality
  * scoring, language-ID, fingerprinting).
  *
  * These are beyond the reference's own surface (see BASELINE.json
  * north_star) and are designed scale-first:
  *   - everything is per-row narrow work (codegen'd `functions._`
  *     expressions — no UDFs, no driver-side loops);
  *   - the only shuffles are the final groupBy/self-join on hash keys
  *     (exact dedup groups by md5; LSH joins on (band, minhash) buckets),
  *     which is the canonical 100 TB dedup topology;
  *   - cross-engine determinism: hashes go through md5 (both engines; a
  *     60-bit hash is Spark's native `hash60` kernel against DuckDB's
  *     hex-prefix cast, bit-identical), folds run in identical sequential
  *     order, ratios are one double division cast to DECIMAL (see
  *     Catalog.scala rules).
  */
object Pipeline {
  import Catalog.dec

  private def T(s: SparkSession, d: String, n: String) = Tables.load(s, d, n)

  private val stops = Seq("the", "a", "of", "and", "to", "in")

  /** p01 — exact deduplication by content hash: hash-groupBy on md5(text),
    * keep min doc_id. The 100 TB pattern: one shuffle on the digest, no
    * text comparison off the digest path.
    */
  private val p01 = Q(
    "p01_dedup_exact",
    (s, d) => {
      import s.implicits._
      T(s, d, "documents")
        .groupBy(md5($"text").as("content_hash"))
        .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
        .orderBy($"keep_id")
    },
    Some("""
      SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
      FROM documents GROUP BY md5(text) ORDER BY keep_id"""))

  /** p02 — document fingerprinting: md5 over whitespace-normalized,
    * lower-cased text (DuckDB regexp_replace needs the 'g' flag to match
    * Spark's replace-all default).
    */
  private val p02 = Q(
    "p02_fingerprint",
    (s, d) => {
      import s.implicits._
      T(s, d, "documents")
        .select($"doc_id",
          md5(regexp_replace(lower($"text"), "\\s+", " ")).as("fingerprint"),
          sha2($"text", 256).as("sha_fingerprint"))
        .orderBy($"doc_id")
    },
    Some("""
      SELECT doc_id, md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fingerprint,
        sha256(text) AS sha_fingerprint
      FROM documents ORDER BY doc_id"""))

  /** p03 — token counting: whitespace tokens + a BPE-ish regex token count
    * (runs of letters | digits | single non-space symbol — the classic
    * pre-tokenizer shape).
    */
  private val p03 = Q(
    "p03_token_count",
    (s, d) => {
      import s.implicits._
      T(s, d, "documents")
        .select($"doc_id",
          size(split($"text", " ")).as("ws_tokens"),
          regexp_count($"text", lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]")).cast(LongType)
            .as("bpe_tokens"),
          length($"text").as("n_chars_actual"))
        .orderBy($"doc_id")
    },
    Some("""
      SELECT doc_id, CAST(length(string_split(text, ' ')) AS INT) AS ws_tokens,
        CAST(length(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS bpe_tokens,
        CAST(length(text) AS INT) AS n_chars_actual
      FROM documents ORDER BY doc_id"""))

  /** p04 — quality scoring: char-length / mean token length / stopword
    * ratio / punctuation ratio, combined into a deterministic 0–1 score.
    * All ratios are exact-int sums with one double division.
    */
  private val p04 = Q(
    "p04_quality_score",
    (s, d) => {
      import s.implicits._
      val toks = split($"text", " ")
      val nTok = size(toks).cast(DoubleType)
      val stopList = stops.map(w => s"'$w'").mkString("(", ", ", ")")
      val nStop = expr(s"size(filter(split(text, ' '), t -> t IN $stopList))").cast(DoubleType)
      val nPunct = regexp_count($"text", lit("[^A-Za-z0-9\\s]")).cast(DoubleType)
      T(s, d, "documents")
        .select($"doc_id",
          size(toks).as("n_tokens"),
          dec(length($"text").cast(DoubleType) / nTok, 18, 6).as("mean_tok_len"),
          dec(nStop / nTok, 18, 6).as("stopword_ratio"),
          dec(nPunct / length($"text").cast(DoubleType), 18, 6).as("punct_ratio"))
        .orderBy($"doc_id")
    },
    Some("""
      SELECT doc_id,
        CAST(length(string_split(text, ' ')) AS INT) AS n_tokens,
        CAST(CAST(length(text) AS DOUBLE) / length(string_split(text, ' ')) AS DECIMAL(18,6)) AS mean_tok_len,
        CAST(CAST(length(list_filter(string_split(text, ' '), t -> t IN ('the', 'a', 'of', 'and', 'to', 'in'))) AS DOUBLE) / length(string_split(text, ' ')) AS DECIMAL(18,6)) AS stopword_ratio,
        CAST(CAST(length(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE) / CAST(length(text) AS DOUBLE) AS DECIMAL(18,6)) AS punct_ratio
      FROM documents ORDER BY doc_id"""))

  /** p05 — language identification: marker-token scoring with a
    * deterministic argmax (ties broken by fixed language order), checked
    * against the table's `lang` label.
    */
  private val p05 = Q(
    "p05_lang_id",
    (s, d) => {
      import s.implicits._
      def score(words: Seq[String]): Column = {
        val list = words.map(w => s"'$w'").mkString("(", ", ", ")")
        expr(s"size(filter(split(lower(text), ' '), t -> t IN $list))")
      }
      val en = score(Seq("the", "a", "of", "and", "to"))
      val de = score(Seq("der", "die", "das", "und", "ist"))
      val es = score(Seq("el", "la", "de", "y", "que"))
      val fr = score(Seq("le", "la", "et", "les", "des"))
      val pred = when(en >= de && en >= es && en >= fr && en > 0, "en")
        .when(de >= es && de >= fr && de > 0, "de")
        .when(es >= fr && es > 0, "es")
        .when(fr > 0, "fr")
        .otherwise("und")
      T(s, d, "documents")
        .select($"doc_id", $"lang", pred.as("pred_lang"))
        .groupBy($"lang", $"pred_lang")
        .agg(count(lit(1)).as("n"))
        .orderBy($"lang", $"pred_lang")
    },
    Some("""
      WITH scored AS (
        SELECT doc_id, lang,
          length(list_filter(string_split(lower(text), ' '), t -> t IN ('the','a','of','and','to'))) AS s_en,
          length(list_filter(string_split(lower(text), ' '), t -> t IN ('der','die','das','und','ist'))) AS s_de,
          length(list_filter(string_split(lower(text), ' '), t -> t IN ('el','la','de','y','que'))) AS s_es,
          length(list_filter(string_split(lower(text), ' '), t -> t IN ('le','la','et','les','des'))) AS s_fr
        FROM documents),
      pred AS (
        SELECT lang,
          CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en > 0 THEN 'en'
               WHEN s_de >= s_es AND s_de >= s_fr AND s_de > 0 THEN 'de'
               WHEN s_es >= s_fr AND s_es > 0 THEN 'es'
               WHEN s_fr > 0 THEN 'fr'
               ELSE 'und' END AS pred_lang
        FROM scored)
      SELECT lang, pred_lang, COUNT(*) AS n FROM pred
      GROUP BY lang, pred_lang ORDER BY lang, pred_lang"""))

  /** Distinct 3-word shingles of `text` (both engines build the identical
    * list: split on single space, window of 3, join with space). Spark side
    * runs the single-pass native expression (functions.ShingleArray);
    * DuckDB rebuilds the same list with list functions.
    */
  private def shinglesCol: Column =
    graft.functions.ShingleArray.shingles(col("text"))

  private[operators] val shinglesSqlDuck =
    """CASE WHEN length(string_split(text, ' ')) >= 3
         THEN list_distinct(list_transform(range(1, length(string_split(text, ' ')) - 1),
                i -> array_to_string(list_slice(string_split(text, ' '), i, i + 2), ' ')))
         ELSE [] END"""

  /** p06 — n-gram shingling: distinct 3-gram shingle count per document
    * (the substrate for MinHash / Jaccard dedup).
    */
  private val p06 = Q(
    "p06_shingles",
    (s, d) => {
      import s.implicits._
      T(s, d, "documents")
        .select($"doc_id", shinglesCol.as("sh"))
        .select($"doc_id", size($"sh").as("n_shingles"))
        .orderBy($"doc_id")
    },
    Some(s"""
      SELECT doc_id, CAST(length($shinglesSqlDuck) AS INT) AS n_shingles
      FROM documents ORDER BY doc_id"""))

  /** MinHash signature via the one-md5 scheme: md5 is computed ONCE per
    * shingle, split into two independent 60-bit halves (h1, h2), and the k
    * permutations are h1 ^ (i·h2) — the standard double-hashing trick
    * (Spark `^` == DuckDB `xor`; i·h2 < 2^62, no overflow). The whole
    * split→shingle→md5→min chain runs as ONE native expression
    * (functions.MinHashShingleSig) instead of k HOF array pipelines;
    * requires a `text` column on the input.
    */
  private def withMinhash(df: DataFrame, k: Int = 4): DataFrame = {
    val sig = graft.functions.MinHashShingleSig.minhash_sig(col("text"), k)
    val sigs = (0 until k).map(i => element_at(col("sig"), i + 1).as(s"m$i"))
    df.withColumn("sig", sig)
      .select((col("doc_id") +: col("sh") +: sigs): _*)
  }

  private[operators] def minhashSqlDuck(alias: String): String =
    (0 until 4).map { i =>
      s"""list_min(list_transform(sh, sg -> xor(('0x' || substr(md5(sg), 1, 15))::BIGINT, $i * ('0x' || substr(md5(sg), 17, 15))::BIGINT))) AS m$i"""
    }.mkString(", ")

  /** p07 — MinHash signatures (shingle → k hash permutations → min):
    * the map-side of MinHash+LSH dedup (SURVEY north-star operator).
    */
  private val p07 = Q(
    "p07_minhash_sig",
    (s, d) => {
      import s.implicits._
      withMinhash(T(s, d, "documents").select($"doc_id", $"text", shinglesCol.as("sh")))
        .select($"doc_id", $"m0", $"m1", $"m2", $"m3")
        .orderBy($"doc_id")
    },
    Some(s"""
      WITH sh AS (SELECT doc_id, $shinglesSqlDuck AS sh FROM documents)
      SELECT doc_id, ${minhashSqlDuck("sh")} FROM sh ORDER BY doc_id"""))

  /** MinHash-LSH near-dup candidate pairs + exact Jaccard verify,
    * parameterized by `bands` × `rowsPerBand` (signature length k =
    * bands·rowsPerBand; tune the S-curve threshold ≈ (1/bands)^(1/rows)).
    * Band the signature, bucket-join on (band, key) — key is the band's
    * value slice (a scalar when rowsPerBand = 1, an array otherwise; both
    * hash-join fine) — then verify candidates with exact Jaccard on the
    * distinct shingle sets. At scale this is the standard topology: the
    * only wide op is the shuffle on the band-bucket key; the verify join
    * touches candidate pairs only.
    *
    * No executor-cache persist (round-1 finding: a leaked `.persist`).
    * The signature scan appears three times in the plan, but the shuffled
    * sides are identical so Spark's ReusedExchange computes it once per
    * shuffle key; at 100 TB the durable form of this reuse is a checkpoint
    * to parquet, not executor memory.
    */
  /** Signature scan shared by the LSH entries (p08/p17). */
  private def sigsDf(s: SparkSession, d: String, k: Int): DataFrame = {
    import s.implicits._
    withMinhash(
      T(s, d, "documents").select($"doc_id", $"text", shinglesCol.as("sh")), k)
  }

  /** LSH band-bucket candidate pairs (id_a < id_b, distinct): band the
    * signature, bucket-join on (band, key). The only wide op is the shuffle
    * on the band-bucket key — the candidate-generation half of p08, shared
    * with p17's cluster assignment.
    */
  def lshCandidates(sigs: DataFrame, bands: Int, rowsPerBand: Int): DataFrame = {
    val bandKey = (b: Int) =>
      if (rowsPerBand == 1) col(s"m$b")
      else array((0 until rowsPerBand).map(r => col(s"m${b * rowsPerBand + r}")): _*)
    val bandsDf = sigs.select(col("doc_id"),
      explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"), bandKey(b).as("h"))): _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.h").as("h"))
    bandsDf.as("a").join(bandsDf.as("b"),
        col("a.band") === col("b.band") && col("a.h") === col("b.h") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
  }

  /** CC candidate edges as per-bucket STARS: every (band, h) bucket
    * contributes member→min-member edges instead of its all-pairs
    * clique. The union over buckets has IDENTICAL connected components
    * (a clique and its star span the same vertex set), at O(docs·bands)
    * edges instead of Σ|bucket|² — at sf10's 100-way replica families
    * that is ~20M edges instead of ~250M+, the difference between a CC
    * loop that fits the default heap and one whose per-round sort-merge
    * spills past free disk (r8 probe forensics). p08 keeps the
    * all-pairs form: its deliverable IS the pair list (and is excluded
    * from decade scale-up for exactly that output shape); p17's
    * deliverable is the component, which the star preserves bit-exactly
    * — the committed recursive-CTE oracle runs on the CLIQUE graph and
    * still matches.
    */
  def lshStarEdges(sigs: DataFrame, bands: Int, rowsPerBand: Int): DataFrame = {
    val bandKey = (b: Int) =>
      if (rowsPerBand == 1) col(s"m$b")
      else array((0 until rowsPerBand).map(r => col(s"m${b * rowsPerBand + r}")): _*)
    val bandsDf = sigs.select(col("doc_id"),
      explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"), bandKey(b).as("h"))): _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.h").as("h"))
    bandsDf
      .withColumn("rep",
        min(col("doc_id")).over(Window.partitionBy(col("band"), col("h"))))
      .filter(col("doc_id") > col("rep"))
      .select(col("rep").as("id_a"), col("doc_id").as("id_b"))
      .distinct()
  }

  /** The sh/sigs/bands/cand CTE chain of the 4×1 LSH oracle — shared body
    * for the p08 and p17 oracles (p17 prepends WITH RECURSIVE).
    */
  private def candCtesFromDuck(table: String) = s"""
      sh AS (SELECT doc_id, $shinglesSqlDuck AS sh FROM $table),
      sigs AS (SELECT doc_id, sh, ${minhashSqlDuck("sh")} FROM sh),
      bands AS (
        SELECT doc_id, 0 AS band, m0 AS h FROM sigs UNION ALL
        SELECT doc_id, 1, m1 FROM sigs UNION ALL
        SELECT doc_id, 2, m2 FROM sigs UNION ALL
        SELECT doc_id, 3, m3 FROM sigs),
      cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b ON a.band = b.band AND a.h = b.h
          AND a.doc_id < b.doc_id)"""

  private val candCtesDuck = candCtesFromDuck("documents")

  def minhashLshPairs(s: SparkSession, d: String,
      bands: Int = 4, rowsPerBand: Int = 1): DataFrame = {
    import s.implicits._
    val sigs = sigsDf(s, d, bands * rowsPerBand)
    val cand = lshCandidates(sigs, bands, rowsPerBand)
    val sh = sigs.select($"doc_id", $"sh")
    cand
      .join(sh.withColumnRenamed("doc_id", "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
      .join(sh.withColumnRenamed("doc_id", "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
      .select($"id_a", $"id_b",
        dec(size(array_intersect($"sh_a", $"sh_b")).cast(DoubleType) /
          (size($"sh_a") + size($"sh_b") - size(array_intersect($"sh_a", $"sh_b")))
            .cast(DoubleType), 18, 6).as("jaccard"))
      .orderBy($"id_a", $"id_b")
  }

  /** p08 — the catalog entry runs the 4×1 configuration (oracle mirrors it
    * with a UNION-ALL band stack).
    */
  private val p08 = Q(
    "p08_minhash_lsh_pairs",
    (s, d) => minhashLshPairs(s, d, bands = 4, rowsPerBand = 1),
    Some(s"""
      WITH $candCtesDuck
      SELECT id_a, id_b,
        CAST(CAST(length(list_filter(sa.sh, x -> list_contains(sb.sh, x))) AS DOUBLE)
             / (length(sa.sh) + length(sb.sh) - length(list_filter(sa.sh, x -> list_contains(sb.sh, x)))) AS DECIMAL(18,6)) AS jaccard
      FROM cand JOIN sh sa ON sa.doc_id = id_a JOIN sh sb ON sb.doc_id = id_b
      ORDER BY id_a, id_b"""))

  /** Each distinct space-split token of `text` hashed to 60 bits
    * (`hash60`): the input of SimHash (p09, p63, p65, p77, stw_keep_best). */
  private[graft] def tokenHashes(text: Column): Column =
    transform(array_distinct(split(text, " ")), t => hash60(t))

  /** p09 — SimHash (64→60-bit) near-dup fingerprint: per-token 60-bit
    * hashes, per-bit signed vote, sign → bit. O(tokens × 60) per row, all
    * codegen'd; no shuffle at all.
    */
  private val p09 = Q(
    "p09_simhash",
    (s, d) => {
      import s.implicits._
      T(s, d, "documents")
        .select($"doc_id",
          VectorFunctions.simhash60(tokenHashes($"text")).as("simhash"))
        .orderBy($"doc_id")
    },
    Some("""
      WITH th AS (
        SELECT doc_id,
          list_transform(list_distinct(string_split(text, ' ')),
                         t -> ('0x' || substr(md5(t), 1, 15))::BIGINT) AS hs
        FROM documents)
      SELECT doc_id,
        list_sum(list_transform(range(0, 60), j ->
          CASE WHEN list_sum(list_transform(hs, h ->
                 CASE WHEN (h >> j) % 2 = 1 THEN 1 ELSE -1 END)) >= 0
          THEN (1::BIGINT << j) ELSE 0::BIGINT END))::BIGINT AS simhash
      FROM th ORDER BY doc_id"""))

  /** Sequential-fold dot product of two 64-dim float vectors in double —
    * identical op order in both engines → bit-identical results.
    */
  private def foldDot(a: String, b: String): Column = expr(
    s"""aggregate(sequence(1, 64), CAST(0.0 AS DOUBLE),
          (acc, i) -> acc + CAST(element_at($a, i) AS DOUBLE) * CAST(element_at($b, i) AS DOUBLE))""")

  private def foldDotDuck(a: String, b: String): String =
    s"""list_sum(list_transform(range(1, 65),
          i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))"""

  /** p10 — brute-force cosine top-k similarity search against a query
    * vector (vec_id 0): the exact baseline for ANN. Scale path: the scan
    * is embarrassingly parallel; top-k via TakeOrdered (no global sort
    * materialization).
    */
  private val p10 = Q(
    "p10_cosine_topk",
    (s, d) => {
      import s.implicits._
      val emb = T(s, d, "embeddings")
      val qv = emb.filter($"vec_id" === 0).select($"embedding".as("qvec"))
      emb.filter($"vec_id" =!= 0)
        .crossJoin(broadcast(qv))
        .select($"vec_id", $"label",
          dec(VectorFunctions.cosine_similarity($"embedding", $"qvec"), 18, 6)
            .as("cos_sim"))
        .orderBy($"cos_sim".desc, $"vec_id")
        .limit(25)
    },
    Some(s"""
      WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0)
      SELECT vec_id, label,
        CAST(${foldDotDuck("embedding", "qvec")} /
             (sqrt(${foldDotDuck("embedding", "embedding")}) * sqrt(${foldDotDuck("qvec", "qvec")})) AS DECIMAL(18,6)) AS cos_sim
      FROM embeddings, q WHERE vec_id <> 0
      ORDER BY cos_sim DESC, vec_id LIMIT 25"""))

  /** p11 — vector norms + per-label stats: per-row L2 norm (sequential
    * fold), exact decimal mean by label.
    */
  private val p11 = Q(
    "p11_vector_stats",
    (s, d) => {
      import s.implicits._
      T(s, d, "embeddings")
        .select($"vec_id", $"label",
          dec(sqrt(foldDot("embedding", "embedding")), 18, 6).as("l2_norm"))
        .groupBy($"label")
        .agg(count(lit(1)).as("n"),
          dec(sum($"l2_norm"), 38, 6).as("sum_norm"),
          min($"l2_norm").as("min_norm"),
          max($"l2_norm").as("max_norm"))
        .orderBy($"label")
    },
    Some(s"""
      WITH n AS (
        SELECT vec_id, label,
          CAST(sqrt(${foldDotDuck("embedding", "embedding")}) AS DECIMAL(18,6)) AS l2_norm
        FROM embeddings)
      SELECT label, COUNT(*) AS n, CAST(SUM(l2_norm) AS DECIMAL(38,6)) AS sum_norm,
        MIN(l2_norm) AS min_norm, MAX(l2_norm) AS max_norm
      FROM n GROUP BY label ORDER BY label"""))

  /** Signed-random-projection bucket (4 hyperplanes → bucket 0..15): the
    * j-th bit is the sign of ⟨v, hp_j⟩ where hp_j[i] is a deterministic
    * pseudo-random value in [-0.5, 0.5) derived from md5(j || '_' || i).
    * Spark computes it with functions.LshBucket (plane matrix materialized
    * once, per-row cost = 256 multiply-adds); DuckDB recomputes the
    * identical planes inline from md5, so the ANN path stays
    * oracle-checked bit for bit.
    */
  private def lshBucketDuck(vecCol: String, nPlanes: Int = 4): String =
    s"""list_sum(list_transform(range(0, $nPlanes), j ->
          CASE WHEN
            list_sum(list_transform(range(1, 65), i ->
              CAST($vecCol[i] AS DOUBLE) *
              (CAST(('0x' || substr(md5(j || '_' || i), 1, 15))::BIGINT AS DOUBLE)
               / 1152921504606846976.0 - 0.5))) >= 0.0
          THEN (1 << j) ELSE 0 END))::INT"""

  /** p12 — ANN via signed-random-projection LSH: bucket every vector by
    * hyperplane signs, then run exact cosine only inside the query's
    * bucket. The scale path for similarity search: the bucket column is a
    * shuffle/partition key, so a 100 TB corpus probes one bucket instead of
    * scanning everything (vs p10's exact brute force baseline).
    */
  private val p12 = Q(
    "p12_ann_lsh",
    (s, d) => {
      import s.implicits._
      val emb = T(s, d, "embeddings")
        .withColumn("bucket", VectorFunctions.lsh_bucket($"embedding"))
      val qv = emb.filter($"vec_id" === 0)
        .select($"embedding".as("qvec"), $"bucket".as("qbucket"))
      emb.filter($"vec_id" =!= 0)
        .join(broadcast(qv), $"bucket" === $"qbucket")
        .select($"vec_id", $"label", $"bucket",
          dec(VectorFunctions.cosine_similarity($"embedding", $"qvec"), 18, 6)
            .as("cos_sim"))
        .orderBy($"cos_sim".desc, $"vec_id")
        .limit(10)
    },
    Some(s"""
      WITH b AS (SELECT vec_id, label, embedding,
                   ${lshBucketDuck("embedding")} AS bucket
                 FROM embeddings),
      q AS (SELECT embedding AS qvec, bucket AS qbucket FROM b WHERE vec_id = 0)
      SELECT vec_id, label, bucket,
        CAST(${foldDotDuck("embedding", "qvec")} /
             (sqrt(${foldDotDuck("embedding", "embedding")}) * sqrt(${foldDotDuck("qvec", "qvec")})) AS DECIMAL(18,6)) AS cos_sim
      FROM b JOIN q ON bucket = qbucket
      WHERE vec_id <> 0
      ORDER BY cos_sim DESC, vec_id LIMIT 10"""))

  /** p13 — embedding-cosine near-dup pairs: LSH-bucket the corpus, exact
    * cosine only within buckets, keep pairs over threshold (the embedding
    * analogue of MinHash-LSH: candidate generation by bucket join, one
    * shuffle on the bucket key, verify narrow). Threshold 0.4 reflects
    * this synthetic corpus (max pairwise cosine ≈ 0.51); real near-dup
    * corpora use ≥0.9.
    *
    * Scale contract: the within-bucket verify is quadratic in bucket
    * size, and the oracle-checked 4-plane/16-bucket config keeps buckets
    * corpus-proportional — so like p08 this entry is gated through sf1
    * and EXCLUDED from decade scale-ups by contract. The production form
    * raises the plane count so buckets stay O(1) (lsh_bucket's plane
    * matrix generalizes) and caps blocks like p15/p77; the capped SimHash
    * route (p77) is the gated-at-every-decade near-dup path.
    */
  private def embeddingNeardupQ(name: String, nPlanes: Int): Q = Q(
    name,
    (s, d) => {
      import s.implicits._
      val emb = T(s, d, "embeddings")
        .withColumn("bucket", VectorFunctions.lsh_bucket($"embedding", nPlanes))
        .select($"vec_id", $"bucket", $"embedding")
      emb.as("a").join(emb.as("b"),
          col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
          dec(VectorFunctions.cosine_similarity(col("a.embedding"), col("b.embedding")),
            18, 6).as("cos_sim"))
        .filter($"cos_sim" >= 0.40)
        .orderBy($"id_a", $"id_b")
    },
    Some(s"""
      WITH b AS (SELECT vec_id, embedding, ${lshBucketDuck("embedding", nPlanes)} AS bucket
                 FROM embeddings),
      pairs AS (
        SELECT x.vec_id AS id_a, y.vec_id AS id_b,
          CAST(${foldDotDuck("x.embedding", "y.embedding")} /
               (sqrt(${foldDotDuck("x.embedding", "x.embedding")}) * sqrt(${foldDotDuck("y.embedding", "y.embedding")})) AS DECIMAL(18,6)) AS cos_sim
        FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id)
      SELECT id_a, id_b, cos_sim FROM pairs WHERE cos_sim >= 0.40
      ORDER BY id_a, id_b"""))

  private val p13 = embeddingNeardupQ("p13_embedding_neardup", 4)

  /** p120 — p13's PRODUCTION form, measured: same operator at 8
    * hyperplanes (256 buckets), the knob p13's scale contract names.
    * The r14 sf1 exponent sweep flagged the 4-plane config at 1.63x per
    * decade (by contract: 16 buckets keep bucket size
    * corpus-proportional, so the within-bucket verify is quadratic);
    * doubling the planes divides expected bucket size by 16 and the
    * expected pair work by ~16 — this entry pins the claim with an
    * oracle-checked gate at every SF and a measured sf1 time next to
    * p13's in BENCH_NOTES. Recall trade: near-dup pairs whose planes
    * disagree are lost (banding across plane subsets is the p06-style
    * recovery); at 100 TB the plane count is sized so buckets stay O(1)
    * while banding keeps recall.
    */
  private val p120 = embeddingNeardupQ("p120_embedding_neardup_prod", 8)

  /** p14 — sketch aggregates: approx_count_distinct (HLL++) and
    * approx_percentile next to their exact counterparts. At 100 TB the
    * sketches are the only viable form (fixed-size state, mergeable across
    * partitions).
    *
    * Raw sketch outputs can't be oracle-compared — HLL/percentile sketch
    * implementations differ across engines — so this entry outputs the
    * EXACT aggregates plus boolean CONTRACT VERDICTS: the HLL estimate
    * must land within 5x its configured rsd (+5 absolute slack), and each
    * percentile sketch value's realized rank must sit within ±0.05 of its
    * target quantile (accuracy 1000 guarantees ±0.001 rank error; the
    * slack absorbs value ties). The oracle recomputes the exact columns
    * and expects literal TRUE for every verdict — a sketch that breaks
    * its error contract now FAILS the driver's gate instead of hiding
    * behind a rows-only check. SketchSpec keeps the tighter bounds.
    *
    * 100 TB shape: the rank audit joins the tiny per-group sketch row
    * back to the events scan via broadcast — the standard "audit the
    * sketch on a sample" pattern, run here over the full input.
    */
  private val p14 = Q(
    "p14_approx_sketches",
    (s, d) => {
      import s.implicits._
      val ev = T(s, d, "events").select($"event_type", $"user_id", $"value")
      val sk = ev.groupBy($"event_type")
        .agg(
          countDistinct($"user_id").as("exact_users"),
          approx_count_distinct($"user_id", 0.02).as("approx_users"),
          // ONE percentile sketch per group; the scalars project out.
          expr("approx_percentile(value, array(0.5, 0.95, 0.99), 1000)")
            .as("pcts"),
          count(lit(1)).as("n"))
      val ranks = ev.join(broadcast(sk.select($"event_type", $"pcts")), "event_type")
        .groupBy($"event_type")
        .agg(
          sum(when($"value" <= element_at($"pcts", 1), 1L).otherwise(0L)).as("le50"),
          sum(when($"value" <= element_at($"pcts", 2), 1L).otherwise(0L)).as("le95"),
          sum(when($"value" <= element_at($"pcts", 3), 1L).otherwise(0L)).as("le99"))
      def rankOk(cnt: Column, n: Column, q: Double) =
        abs(cnt.cast(DoubleType) / n.cast(DoubleType) - q) <= 0.05
      sk.join(ranks, "event_type")
        .select($"event_type", $"exact_users", $"n",
          (abs($"approx_users" - $"exact_users") <=
            $"exact_users".cast(DoubleType) * 0.1 + 5).as("hll_ok"),
          rankOk($"le50", $"n", 0.50).as("p50_ok"),
          rankOk($"le95", $"n", 0.95).as("p95_ok"),
          rankOk($"le99", $"n", 0.99).as("p99_ok"))
        .orderBy($"event_type")
    },
    Some("""
      SELECT event_type, COUNT(DISTINCT user_id) AS exact_users,
        COUNT(*) AS n,
        TRUE AS hll_ok, TRUE AS p50_ok, TRUE AS p95_ok, TRUE AS p99_ok
      FROM events GROUP BY event_type ORDER BY event_type"""))

  /** Hard cap on block membership for the blocked all-pairs joins (p15/p16).
    * Blocked self-joins are near-linear only while blocks stay small; a real
    * corpus concentrates mass in few blocks (boilerplate first words,
    * templated pages), and one block of 10^6 members is 10^12 candidate
    * pairs regardless of corpus size. So: count block membership first (one
    * window pass on the block key the join shuffles on anyway), take the
    * exact all-pairs path only for blocks at or under the cap, and route
    * oversized blocks through an LSH refinement — a 1-row MinHash band over
    * the full text sub-buckets the block, and each sub-bucket is
    * star-compared against its min-id representative, bounding the pair
    * count to < n per block. Recall inside an oversized block degrades to
    * the LSH S-curve, and member↔member near-dups still connect
    * transitively through the shared representative in p17's connected
    * components. Same skew instinct as the reference's per-key HashDiff
    * partitioning (flock/src/transmute.rs:77-109): route hot keys, never
    * enumerate them.
    */
  val DefaultBlockCap = 256

  /** Side length of a salt cell in the small-block all-pairs join: blocks
    * are split into `ceil(blk_n / SaltCellSide)` salts, so one cell carries
    * at most ~SaltCellSide² candidate pairs. Without this, pair-expansion
    * work is invisible to AQE's byte-based partition coalescing — a block's
    * rows are a few KB but its pairs are n², so the pair-heavy blocks
    * collapse into one post-coalesce partition and the per-pair verify
    * (levenshtein / Jaccard) runs single-core (measured 44 s → ~4 s at sf1).
    * Bounding pairs-per-cell makes shuffled bytes proportional to join work
    * again, which is what AQE assumes. Replication cost is ≤ cap/SaltCellSide
    * copies and only for blocks bigger than SaltCellSide.
    */
  val SaltCellSide = 64

  /** Candidate pairs for a blocked self-join with the block-size cap applied.
    * `docs` must carry `doc_id`, `text`, the block columns, and the payload
    * columns; output is (id_a, id_b, <payload>_a, <payload>_b) with
    * id_a < id_b within the exact path and rep_id < member_id on the capped
    * path.
    */
  private[graft] def cappedBlockPairs(docs: DataFrame, blockCols: Seq[String],
      payload: Seq[String], cap: Int): DataFrame = {
    def pairSel(j: DataFrame) = j.select(
      (col("a.doc_id").as("id_a") +: col("b.doc_id").as("id_b") +:
        payload.flatMap(p =>
          Seq(col(s"a.$p").as(s"${p}_a"), col(s"b.$p").as(s"${p}_b")))): _*)
    val sized = docs.withColumn("blk_n",
      count(lit(1)).over(Window.partitionBy(blockCols.map(col): _*)))
    val blockEq = blockCols.map(c => col(s"a.$c") === col(s"b.$c")).reduce(_ && _)
    // Triangle-salted self-join: doc x lands in cell (salt(x), salt(y)) with
    // doc y exactly once (the doc_id order fixes the roles), so the output
    // pair set is IDENTICAL to the unsalted join — only the distribution
    // changes. nsalt = 1 for blocks at or under SaltCellSide: no replication.
    val small = sized.filter(col("blk_n") <= cap).withColumn("nsalt",
      ceil(col("blk_n") / SaltCellSide.toDouble).cast(IntegerType))
    // The probe side is explicitly repartitioned on (block, cell): the join
    // broadcasts the other side, so without this shuffle the probe would
    // inherit the window's byte-coalesced layout and the cells would never
    // spread. An explicit partition count keeps AQE from re-coalescing it.
    val nPart = docs.sparkSession.sessionState.conf.numShufflePartitions
    val aSide = small
      .withColumn("cell_i", pmod(hash(col("doc_id")), col("nsalt")))
      .withColumn("cell_j", explode(sequence(lit(0), col("nsalt") - 1)))
      .repartition(nPart,
        (blockCols.map(col) :+ col("cell_i") :+ col("cell_j")): _*)
    val bSide = small
      .withColumn("cell_j", pmod(hash(col("doc_id")), col("nsalt")))
      .withColumn("cell_i", explode(sequence(lit(0), col("nsalt") - 1)))
    val smallPairs = pairSel(aSide.as("a").join(bSide.as("b"),
      blockEq && col("a.cell_i") === col("b.cell_i") &&
        col("a.cell_j") === col("b.cell_j") &&
        col("a.doc_id") < col("b.doc_id")))
    val big = sized.filter(col("blk_n") > cap).withColumn("sub",
      element_at(graft.functions.MinHashShingleSig.minhash_sig(col("text"), 1), 1))
    val withRep = big.withColumn("rep_id", min(col("doc_id"))
      .over(Window.partitionBy(blockCols.map(col) :+ col("sub"): _*)))
    val bigPairs = pairSel(withRep.filter(col("doc_id") === col("rep_id")).as("a")
      .join(withRep.filter(col("doc_id") > col("rep_id")).as("b"),
        col("a.doc_id") === col("b.rep_id")))
    smallPairs.union(bigPairs)
  }

  /** DuckDB twin of [[cappedBlockPairs]] over `documents` — the oracle
    * mirrors the cap EXACTLY (same window count, same 1-row-MinHash
    * sub-key over the full-text shingles, same min-id representative
    * star), so the p15/p16 gates stay green at ANY scale factor,
    * including ones where real blocks exceed the cap. Emits CTEs ending
    * in `pairs(id_a, id_b, <name>_a, <name>_b)`.
    */
  private def cappedPairsCtesDuck(payloadExpr: String, name: String): String = s"""
      WITH d0 AS (SELECT doc_id, lang,
                    string_split(text, ' ')[1] AS w0,
                    CAST(FLOOR(n_chars / 200.0) AS INT) AS len_bucket,
                    $payloadExpr AS p, text
                  FROM documents),
      d AS (SELECT *, COUNT(*) OVER (PARTITION BY lang, w0, len_bucket) AS blk_n
            FROM d0),
      small AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.p AS pa, b.p AS pb
        FROM d a JOIN d b ON a.lang = b.lang AND a.w0 = b.w0
          AND a.len_bucket = b.len_bucket AND a.doc_id < b.doc_id
        WHERE a.blk_n <= $DefaultBlockCap),
      bigsub AS (
        SELECT *, list_min(list_transform($shinglesSqlDuck,
            sg -> ('0x' || substr(md5(sg), 1, 15))::BIGINT)) AS sub
        FROM d WHERE blk_n > $DefaultBlockCap),
      big AS (
        SELECT *, MIN(doc_id) OVER (PARTITION BY lang, w0, len_bucket, sub)
          AS rep_id
        FROM bigsub),
      bigp AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.p AS pa, b.p AS pb
        FROM big a JOIN big b ON a.doc_id = b.rep_id AND b.doc_id > b.rep_id),
      pairs AS (
        SELECT id_a, id_b, pa AS ${name}_a, pb AS ${name}_b FROM small
        UNION ALL
        SELECT id_a, id_b, pa, pb FROM bigp)"""

  /** Shared blocking projection for p15/p16: block key =
    * (lang, first word, length bucket) — blocks stay small as the corpus
    * grows (coarse lang+length blocking went quadratic at sf0.1), and the
    * cap above handles the adversarial case where they don't.
    */
  private def blockedDocs(docs: DataFrame, payload: Column*): DataFrame =
    docs.select((Seq(col("doc_id"), col("lang"),
      element_at(split(col("text"), " "), 1).as("w0"),
      floor(col("n_chars") / 200.0).cast(IntegerType).as("len_bucket"),
      col("text")) ++ payload): _*)

  /** p15 body — blocked fuzzy dedup by edit distance on a fixed prefix;
    * exposed with a tunable cap so tests can drive the oversized-block path.
    */
  def fuzzyDedupPairs(docs: DataFrame, cap: Int = DefaultBlockCap): DataFrame =
    cappedBlockPairs(
        blockedDocs(docs, substring(col("text"), 1, 30).as("prefix")),
        Seq("lang", "w0", "len_bucket"), Seq("prefix"), cap)
      .select(col("id_a"), col("id_b"),
        levenshtein(col("prefix_a"), col("prefix_b")).as("edit_dist"))
      .filter(col("edit_dist") <= 15)
      .orderBy(col("id_a"), col("id_b"))

  /** p15 — fuzzy dedup by edit distance: candidate pairs from cheap blocking
    * (same lang, same length bucket), then levenshtein on a fixed prefix —
    * the classic blocked-fuzzy-matching topology (block key join, bounded
    * per-pair work, oversized blocks capped via LSH + representative).
    * levenshtein is the identical DP distance in both engines.
    */
  private val p15 = Q(
    "p15_fuzzy_dedup",
    (s, d) => fuzzyDedupPairs(T(s, d, "documents")),
    Some(s"""
      ${cappedPairsCtesDuck("substr(text, 1, 30)", "payload")}
      SELECT id_a, id_b,
        CAST(levenshtein(payload_a, payload_b) AS INT) AS edit_dist
      FROM pairs WHERE levenshtein(payload_a, payload_b) <= 15
      ORDER BY id_a, id_b"""))

  /** p16 — exact n-gram Jaccard near-dup pairs: blocked all-pairs (same
    * lang + first word + length bucket, the blocking proven near-linear by
    * p15), exact Jaccard over the distinct 3-gram shingle sets. This is
    * the EXACT complement of p08's MinHash approximation —
    * same similarity definition, no sketch; the blocking key bounds the
    * pair count the way p15's does for edit distance. At 100 TB: blocks
    * stay small as the corpus grows (more blocks, not bigger ones), so the
    * self-join stays near-linear — and any block that doesn't stay small is
    * routed through the LSH cap above instead of enumerated. The pair join
    * carries doc_ids ONLY; the shingle arrays are computed once in a side
    * table and joined back by id afterwards — carrying the arrays through
    * the window + salt-explode + repartition chain copied every array
    * nsalt+2 times and made p16 the worst scaler in the sf1 spot-gate
    * (10.7 s vs 3.9 s with the rejoin). At 100 TB the rejoin is two
    * id-key joins where each array moves exactly once per side.
    *
    * Oracle contract: the committed DuckDB oracle pays a per-pair
    * list-intersection that is quadratic in shingle length — fine
    * through sf1, past the wall cap at sf10. The decade gate is
    * tools/ngram_check.py (linear DuckDB derivation + python jaccard
    * memoized by distinct text pair), cross-validated against this
    * oracle at sf0.01/sf0.1 and green at sf10 (r8).
    */
  /** p16 body — blocked exact n-gram Jaccard pairs with the same cap. */
  def ngramJaccardPairs(docs: DataFrame, cap: Int = DefaultBlockCap): DataFrame = {
    val sh = docs.select(col("doc_id"), shinglesCol.as("sh"))
    val paired = cappedBlockPairs(blockedDocs(docs),
        Seq("lang", "w0", "len_bucket"), Seq(), cap)
      .join(sh.select(col("doc_id").as("jid_a"), col("sh").as("sh_a")),
        col("id_a") === col("jid_a"))
      .join(sh.select(col("doc_id").as("jid_b"), col("sh").as("sh_b")),
        col("id_b") === col("jid_b"))
    val inter = size(array_intersect(col("sh_a"), col("sh_b")))
    paired
      .select(col("id_a"), col("id_b"),
        dec(inter.cast(DoubleType) /
          (size(col("sh_a")) + size(col("sh_b")) - inter).cast(DoubleType),
          18, 6).as("jaccard"))
      .filter(col("jaccard") >= 0.10)
      .orderBy(col("id_a"), col("id_b"))
  }

  private val p16 = Q(
    "p16_ngram_jaccard",
    (s, d) => ngramJaccardPairs(T(s, d, "documents")),
    Some(s"""
      ${cappedPairsCtesDuck(shinglesSqlDuck, "sh")},
      scored AS (
        SELECT id_a, id_b,
          CAST(CAST(length(list_filter(sh_a, x -> list_contains(sh_b, x))) AS DOUBLE)
               / (length(sh_a) + length(sh_b) - length(list_filter(sh_a, x -> list_contains(sh_b, x)))) AS DECIMAL(18,6)) AS jaccard
        FROM pairs)
      SELECT id_a, id_b, jaccard FROM scored WHERE jaccard >= 0.10
      ORDER BY id_a, id_b"""))

  /** p17 — near-dup CLUSTER assignment: connected components over the LSH
    * candidate graph (p08's 4×1 bands), by iterative min-label propagation
    * — each vertex repeatedly takes the min label among itself and its
    * neighbors until fixpoint. The output (doc_id → cluster_id = min doc_id
    * in its component) is what a real dedup pipeline keeps: one
    * representative per cluster.
    *
    * 100 TB shape: O(diameter) rounds of join+groupBy on the edge key —
    * near-dup components are small and shallow (dup chains), so this
    * converges in a handful of rounds; `localCheckpoint` truncates the
    * lineage each round (on a cluster, a reliable checkpoint dir). The
    * driver-side loop only reads ONE aggregate (changed-count) per round —
    * the label table itself never leaves the executors. For adversarial
    * graphs (long chains) the large-star/small-star variant halves the
    * round count; not needed for dedup-shaped graphs.
    */
  /** Truncate lineage AND plan statistics between rounds. localCheckpoint
    * alone is not enough: the checkpointed LogicalRDD inherits the origin
    * plan's size estimate, which SQUARES every round through the self-joins
    * and overflows Catalyst's BigInteger stats after ~24 rounds. Re-wrapping
    * the checkpointed RDD resets to default leaf stats (constant per round).
    * On a real cluster the durable form is `checkpoint()` to a reliable dir.
    */
  private def pin(df: DataFrame): DataFrame = {
    val cp = df.localCheckpoint()
    cp.sparkSession.createDataFrame(cp.rdd, cp.schema)
  }

  /** pin at DISK_ONLY — for LARGE static frames an iterative op re-reads
    * across many jobs (p42's multi-GB adjacency). The default
    * MEMORY_AND_DISK pin squats in the PROTECTED half of unified memory
    * (spark.memory.storageFraction): execution can only evict storage
    * down to that floor, so a couple of GB of pinned blocks permanently
    * halves the aggregate/join memory every concurrent task shares — the
    * sf10 p42 OOM class. DISK_ONLY keeps the whole execution pool free;
    * re-reads come off the OS page cache (the blocks were written
    * moments ago), which is exactly how a reliable-checkpoint round trip
    * behaves on a real cluster. Small per-round frames (labels, ranks)
    * stay on the memory pin above.
    */
  private def pinDisk(df: DataFrame): DataFrame = {
    val cp = df.localCheckpoint(true,
      org.apache.spark.storage.StorageLevel.DISK_ONLY)
    cp.sparkSession.createDataFrame(cp.rdd, cp.schema)
  }

  /** Free a pin's blocks the moment it is superseded. Without this,
    * checkpoint blocks survive until the DRIVER GC collects the RDD
    * reference (ContextCleaner) — an iterative loop accumulates every
    * round's pin in storage memory for its whole run (Bench unpersists
    * between entries; this is the within-entry form). Only call on pins
    * nothing will read again: a localCheckpointed RDD cannot be
    * recomputed (Spark logs exactly that WARN on this call — expected).
    */
  private def freePin(df: DataFrame): Unit =
    try df.rdd.unpersist(blocking = false)
    catch { case scala.util.control.NonFatal(_) => () }

  /** One hook step on the quotient graph: for each current label-group,
    * find the min label adjacent to any member and move the whole group
    * there. `hint` wraps the small side of each join — `broadcast` while
    * the endpoint set fits, identity past the guard (the joins then fall
    * back to size-based planning / sort-merge, same topology).
    */
  private[graft] def hookRound(edges: DataFrame, labels: DataFrame,
      hint: DataFrame => DataFrame): DataFrame = {
    val withRoots = edges
      .join(hint(labels.select(col("id").as("src"), col("label").as("rsrc"))), "src")
      .join(hint(labels.select(col("id").as("dst"), col("label").as("rdst"))), "dst")
    val rootMin = withRoots.groupBy(col("rsrc")).agg(min(col("rdst")).as("rmin"))
    labels
      .join(hint(rootMin.withColumnRenamed("rsrc", "label")), Seq("label"), "left")
      .select(col("id"),
        least(col("label"), coalesce(col("rmin"), col("label"))).as("label"))
  }

  def dedupClusters(s: SparkSession, d: String, maxIter: Int = 25,
      maxBroadcastLabels: Long = 1L << 21): DataFrame = {
    import s.implicits._
    val dbg = sys.env.contains("GRAFT_CC_DEBUG")
    def now = System.nanoTime()
    val tStart = now
    // Star edges, not the all-pairs clique — same components, linear
    // edge count (see lshStarEdges).
    val cand = lshStarEdges(sigsDf(s, d, 4), 4, 1)
    // Both edge pins at DISK_ONLY (see pinDisk: at sf10 the edge list is
    // the multi-GB resident, and MEMORY_AND_DISK pins squat in protected
    // storage memory — the p42 OOM class; the r8 sf10 probe hit the same
    // wall here). The pre-repartition pin is freed as soon as the
    // repartitioned one materializes.
    val edges0 = pinDisk(cand.select($"id_a".as("src"), $"id_b".as("dst"))
      .union(cand.select($"id_b".as("src"), $"id_a".as("dst"))))
    // Size the loop tables to the data: the edge set is tiny relative to
    // the corpus (near-dup pairs only), and the loop's cost is per-round
    // job overhead, not volume — so pick partitions from the actual edge
    // count (~2M rows each) instead of inheriting the scan parallelism.
    val nEdges = edges0.count()
    if (dbg) System.err.println(
      f"[cc] edges=$nEdges built at ${(now - tStart) / 1e9}%.2fs")
    val parts = math.max(1L, nEdges / 2000000L).toInt
    // HASH partitioning, not round-robin: `repartition(n)` makes Spark
    // sort every input partition first (spark.sql.execution
    // .sortBeforeRepartition, for deterministic retries) — at sf10 that
    // is 32 concurrent full-partition UnsafeExternalRowSorters on top of
    // the pinned storage, the second OOM site of the r8 probe. Hashing
    // on src needs no sort, and clusters each node's edges for the
    // loop's per-round src-side joins.
    val edges = pinDisk(edges0.repartition(parts, $"src"))
    freePin(edges0)
    var labels = pin(edges.select($"src".as("id")).distinct()
      .select($"id", $"id".as("label")).repartition(parts, $"id"))
    // Broadcast guard: the loop's `broadcast()` hints are only correct
    // while the endpoint set is small. Count it ONCE (labels only ever
    // shrink in distinctness, never grow) and pick hint-vs-plain for the
    // whole loop — an adversarial dup-graph then degrades to sort-merge
    // joins instead of OOMing the driver on an oversized broadcast.
    val nLabels = labels.count()
    val hint: DataFrame => DataFrame =
      if (nLabels <= maxBroadcastLabels) broadcast else identity
    if (dbg) System.err.println(
      s"[cc] endpoints=$nLabels broadcast=${nLabels <= maxBroadcastLabels}")
    // Labels only ever decrease, so "anything changed?" ≡ "did sum(label)
    // drop?" — a narrow partial-aggregate scan over the pinned table, far
    // cheaper than the join-on-id diff it replaces (one shuffle job per
    // round adds up: the loop's cost is fixed job overhead × rounds, not
    // data volume).
    def labelSum(df: DataFrame): Long = {
      val r = df.agg(sum($"label")).first()
      if (r.isNullAt(0)) 0L else r.getLong(0) // null = empty graph
    }
    var curSum = labelSum(labels)
    var changed = true
    var iter = 0
    while (changed && iter < maxIter) {
      // Hook step, on the QUOTIENT graph (see hookRound). Hooking members
      // individually instead (the naive nbr-min) strands star-mates one
      // member-hop per round — chained LSH buckets then converge linearly,
      // not logarithmically. The label table is the edge-ENDPOINT set —
      // orders of magnitude smaller than the corpus (only docs in ≥1
      // candidate pair), so it normally broadcasts; the nLabels guard above
      // drops the hints past the threshold and each round becomes
      // sort-merge joins — same topology, no driver OOM.
      var cur = pin(hookRound(edges, labels, hint))
      // Compression step (Shiloach–Vishkin): jump label(v) <- label(label(v))
      // until fixpoint, so every tree is a depth-1 star before the next hook.
      // Labels are always vertex ids, so the self-join is total. One jump per
      // hook is NOT enough — chained LSH buckets then converge linearly; full
      // compression (pointer doubling) keeps the hook rounds O(log n).
      var prevSum = labelSum(cur)
      var jumping = true
      while (jumping) {
        // Two chained lookups per materialization: label(label(label(v))).
        // Each pinned round divides chain depth by 3 — same O(log) bound
        // as single jumps, half the checkpoint/count jobs (the loop's real
        // cost locally is fixed job overhead, not data).
        val j1 = hint(cur.select($"id".as("j1id"), $"label".as("j1label")))
        val j2 = hint(cur.select($"id".as("j2id"), $"label".as("j2label")))
        val jumped = pin(cur
          .join(j1, cur("label") === col("j1id"))
          .join(j2, col("j1label") === col("j2id"))
          .select(cur("id").as("id"),
            least(cur("label"), col("j1label"), col("j2label")).as("label")))
        val s = labelSum(jumped)
        jumping = s < prevSum
        prevSum = s
        freePin(cur) // superseded round pin; 25-round loops otherwise
        cur = jumped //   hold every generation in storage at once
      }
      changed = prevSum < curSum
      curSum = prevSum
      freePin(labels)
      labels = cur
      iter += 1
      if (dbg) System.err.println(
        f"[cc] round $iter sum=$curSum at ${(now - tStart) / 1e9}%.2fs")
    }
    require(!changed, s"label propagation did not converge in $maxIter rounds")
    labels.select($"id".as("doc_id"), $"label".as("cluster_id"))
      .orderBy($"doc_id")
  }

  private val p17 = Q(
    "p17_dedup_clusters",
    (s, d) => dedupClusters(s, d),
    Some(s"""
      WITH RECURSIVE $candCtesDuck,
      edges AS (SELECT id_a AS src, id_b AS dst FROM cand
                UNION ALL SELECT id_b, id_a FROM cand),
      reach(id, lab) AS (
        SELECT src, dst FROM edges
        UNION
        SELECT r.id, e.dst FROM reach r JOIN edges e ON r.lab = e.src)
      SELECT id AS doc_id, LEAST(id, MIN(lab)) AS cluster_id
      FROM reach GROUP BY id ORDER BY doc_id"""))

  /** p18 — ANN via IVF (inverted-file) coarse quantization: assign every
    * vector to its nearest of 8 fixed centroids (here: the embeddings of
    * vec_id 1..8 — a training-free stand-in for k-means centroids, which
    * keeps the oracle exact), then answer a query by probing only the
    * nprobe=2 cells nearest the query. The complement of p12's LSH
    * bucketing: data-dependent cells instead of random hyperplanes.
    *
    * 100 TB shape: the centroid table broadcasts (8..65k rows), assignment
    * is ONE map-side max_by hash-aggregate (partial-aggregatable — no sort,
    * no window shuffle), and the cell id becomes the partition/cluster key
    * so a query reads nprobe cells instead of the corpus.
    */
  private val p18 = Q(
    "p18_ann_ivf",
    (s, d) => {
      import s.implicits._
      val emb = T(s, d, "embeddings")
      val cents = emb.filter($"vec_id".between(1, 8))
        .select($"vec_id".cast(IntegerType).as("cid"), $"embedding".as("cvec"))
      // Assignment: argmax cosine over the broadcast centroids, ties to the
      // smaller cid (max of struct(csim, -cid) — lexicographic).
      val cells = emb.crossJoin(broadcast(cents))
        .withColumn("csim",
          VectorFunctions.cosine_similarity($"embedding", $"cvec"))
        .groupBy($"vec_id")
        .agg(max_by(struct($"cid", $"label", $"embedding"),
          struct($"csim", -$"cid")).as("best"))
        .select($"vec_id", $"best.cid".as("cell"), $"best.label".as("label"),
          $"best.embedding".as("embedding"))
      val q = emb.filter($"vec_id" === 0).select($"embedding".as("qvec"))
      val qcells = cents.crossJoin(broadcast(q))
        .withColumn("qsim", VectorFunctions.cosine_similarity($"cvec", $"qvec"))
        .orderBy($"qsim".desc, $"cid")
        .limit(2)
        .select($"cid".as("cell"))
      cells.join(broadcast(qcells), "cell")
        .crossJoin(broadcast(q))
        .filter($"vec_id" =!= 0)
        .select($"vec_id", $"label", $"cell",
          dec(VectorFunctions.cosine_similarity($"embedding", $"qvec"), 18, 6)
            .as("cos_sim"))
        .orderBy($"cos_sim".desc, $"vec_id")
        .limit(10)
    },
    Some(s"""
      WITH c AS (SELECT CAST(vec_id AS INT) AS cid, embedding AS cvec
                 FROM embeddings WHERE vec_id BETWEEN 1 AND 8),
      sims AS (SELECT e.vec_id, e.label, e.embedding, c.cid,
                 ${foldDotDuck("e.embedding", "c.cvec")} /
                   (sqrt(${foldDotDuck("e.embedding", "e.embedding")}) * sqrt(${foldDotDuck("c.cvec", "c.cvec")})) AS csim
               FROM embeddings e CROSS JOIN c),
      assign AS (SELECT vec_id, label, embedding, cid,
                   row_number() OVER (PARTITION BY vec_id
                     ORDER BY csim DESC, cid) AS rn
                 FROM sims),
      cells AS (SELECT vec_id, label, embedding, cid AS cell
                FROM assign WHERE rn = 1),
      q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
      qsims AS (SELECT c.cid,
                  row_number() OVER (ORDER BY
                    ${foldDotDuck("c.cvec", "q.qvec")} /
                      (sqrt(${foldDotDuck("c.cvec", "c.cvec")}) * sqrt(${foldDotDuck("q.qvec", "q.qvec")})) DESC, c.cid) AS qrn
                FROM c, q),
      qcells AS (SELECT cid AS cell FROM qsims WHERE qrn <= 2)
      SELECT v.vec_id, v.label, v.cell,
        CAST(${foldDotDuck("v.embedding", "q.qvec")} /
             (sqrt(${foldDotDuck("v.embedding", "v.embedding")}) * sqrt(${foldDotDuck("q.qvec", "q.qvec")})) AS DECIMAL(18,6)) AS cos_sim
      FROM cells v JOIN qcells ON v.cell = qcells.cell, q
      WHERE v.vec_id <> 0
      ORDER BY cos_sim DESC, vec_id LIMIT 10"""))

  /** p19 — heavy hitters per group via the SpaceSaving sketch
    * (functions.SpaceSavingTopK, a TypedImperativeAggregate): top-3 users
    * by event count per event_type. Capacity 262144 ≥ the per-group key
    * cardinality at every GATED sf including the 100x sf10 replica
    * (150,000 distinct users/group; the sf1 gate caught 4096 being
    * exceeded at 15,000 — eviction overestimates flipped the top-3 — and
    * the sf10 gate caught 16384 the same way), so the sketch runs in its
    * EXACT regime and the oracle is plain SQL top-k; the
    * eviction/merge-trim approximation path is spec-tested
    * (FunctionsSpec). Per-sketch memory stays bounded: entries are
    * allocated on demand, so the capacity is a ceiling, not a
    * preallocation. At 100 TB this is
    * the frequency twin of p14's HLL/percentile sketches: fixed-size
    * mergeable state instead of a full (group, key) count table.
    */
  private val p19 = Q(
    "p19_heavy_hitters",
    (s, d) => {
      import s.implicits._
      T(s, d, "events")
        .groupBy($"event_type")
        .agg(graft.functions.HeavyHitters
          .space_saving_topk($"user_id".cast(LongType), 3, 262144).as("tk"))
        .select($"event_type", posexplode($"tk"))
        .select($"event_type", ($"pos" + 1).cast(IntegerType).as("rank"),
          $"col.value".as("user_id"), $"col.count".as("cnt"))
        .orderBy($"event_type", $"rank")
    },
    Some("""
      WITH c AS (SELECT event_type, user_id, COUNT(*) AS cnt
                 FROM events GROUP BY event_type, user_id),
      r AS (SELECT event_type, user_id, cnt,
              CAST(row_number() OVER (PARTITION BY event_type
                ORDER BY cnt DESC, user_id) AS INT) AS rank
            FROM c)
      SELECT event_type, rank, CAST(user_id AS BIGINT) AS user_id, cnt
      FROM r WHERE rank <= 3 ORDER BY event_type, rank"""))

  /** p20 — the training-data pipeline composed END TO END, as one
    * declarative plan: quality gate → exact dedup (keep min doc_id per
    * content hash) → near-dup removal (drop the higher doc_id of every
    * LSH-candidate pair with exact Jaccard ≥ 0.5 — the one-pass practical
    * form of p17's full clustering) → per-language corpus stats. This is
    * the "switch from the reference" showcase: every stage is a stage a
    * real 100 TB curation run executes, and Catalyst fuses the narrow
    * stages (hashing, quality, token counts) into the same scans, so the
    * composition costs two shuffles (dedup groupBy, LSH bucket join) plus
    * the final tiny aggregate — not one pass per stage.
    */
  private val p20 = Q(
    "p20_pipeline_e2e",
    (s, d) => {
      import s.implicits._
      val docs = T(s, d, "documents")
      // Stage 1: quality gate (cheap narrow predicates first).
      val quality = docs.filter($"n_chars" >= 200 &&
        size(split($"text", " ")) >= 30)
      // Stage 2: exact dedup — keep the min doc_id of each content hash.
      val keepExact = quality
        .withColumn("keep_id",
          min($"doc_id").over(org.apache.spark.sql.expressions.Window
            .partitionBy(md5($"text"))))
        .filter($"doc_id" === $"keep_id")
        .drop("keep_id")
      // Stage 3: near-dup removal AMONG THE EXACT-DEDUP SURVIVORS — drop
      // id_b of every verified pair (id_a < id_b), keeping one
      // representative. Running candidate generation AFTER stage 2 is the
      // production order for a structural reason: exact-duplicate families
      // (the dominant dup mass in a web crawl, and the 100-copy stress the
      // sf10 replica corpus applies) collapse to one doc each BEFORE the
      // LSH band join, so the pair space is quadratic only in genuine
      // near-dup families, never in copy counts — candidates-first spilled
      // its sort at sf10 on exactly those families.
      // The remove-set anti-join is deliberately NOT broadcast: it's
      // ids-only but grows with the corpus's near-dup rate — at 100 TB it
      // can be billions of ids, so the shuffled anti-join on doc_id is the
      // form that survives; Spark still flips it to broadcast on its own
      // when runtime stats say the set is small.
      val sigs = withMinhash(
        keepExact.select($"doc_id", $"text", shinglesCol.as("sh")), 4)
      val shTbl = sigs.select($"doc_id", $"sh")
      val removed = lshCandidates(sigs, bands = 4, rowsPerBand = 1)
        .join(shTbl.withColumnRenamed("doc_id", "id_a")
          .withColumnRenamed("sh", "sh_a"), "id_a")
        .join(shTbl.withColumnRenamed("doc_id", "id_b")
          .withColumnRenamed("sh", "sh_b"), "id_b")
        .filter(size(array_intersect($"sh_a", $"sh_b")).cast(DoubleType) /
          (size($"sh_a") + size($"sh_b") -
            size(array_intersect($"sh_a", $"sh_b"))).cast(DoubleType)
          >= 0.5)
        .select($"id_b".as("doc_id")).distinct()
      val kept = keepExact.join(removed, Seq("doc_id"), "left_anti")
      // Stage 4: per-language corpus stats over the kept set.
      kept.groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(regexp_count($"text", lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"))
            .cast(LongType)).as("total_tokens"),
          dec(sum($"n_chars".cast(LongType)).cast(DoubleType) /
            count(lit(1)).cast(DoubleType), 18, 4).as("mean_chars"))
        .orderBy($"lang")
    },
    Some(s"""
      WITH quality AS (
        SELECT * FROM documents
        WHERE n_chars >= 200 AND length(string_split(text, ' ')) >= 30),
      keep_exact AS (
        SELECT * FROM (
          SELECT *, MIN(doc_id) OVER (PARTITION BY md5(text)) AS keep_id
          FROM quality) q
        WHERE doc_id = keep_id),
      ${candCtesFromDuck("keep_exact")},
      pairs AS (
        SELECT id_a, id_b,
          CAST(length(list_filter(sa.sh, x -> list_contains(sb.sh, x))) AS DOUBLE)
            / (length(sa.sh) + length(sb.sh) - length(list_filter(sa.sh, x -> list_contains(sb.sh, x)))) AS jac
        FROM cand JOIN sh sa ON sa.doc_id = id_a JOIN sh sb ON sb.doc_id = id_b),
      removed AS (SELECT DISTINCT id_b AS doc_id FROM pairs WHERE jac >= 0.5),
      kept AS (
        SELECT * FROM keep_exact
        WHERE doc_id NOT IN (SELECT doc_id FROM removed))
      SELECT lang, COUNT(*) AS n_docs,
        CAST(SUM(length(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))) AS BIGINT) AS total_tokens,
        CAST(CAST(SUM(CAST(n_chars AS BIGINT)) AS DOUBLE) / COUNT(*) AS DECIMAL(18,4)) AS mean_chars
      FROM kept GROUP BY lang ORDER BY lang"""))

  /** p21 — exponentially time-decayed counts per event type ("trending"
    * score: recent events count more, half-life 1 h), anchored at the
    * corpus max timestamp so the result is deterministic. Per-row weight =
    * exp(-Δt · ln2/halflife), rounded to DECIMAL(18,6) BEFORE summing:
    * the rounding both makes the sum order-independent (exact decimal
    * addition) and absorbs the ≤1-ulp divergence allowed between the JVM's
    * and DuckDB's libm `exp`. Narrow per-row math + one shuffle — the
    * time-weighted twin of a plain count, and the batch form of a decayed
    * sketch a stream would keep.
    */
  private val p21 = Q(
    "p21_decayed_counts",
    (s, d) => {
      import s.implicits._
      val ev = T(s, d, "events")
      val ref = broadcast(ev.agg(max(unix_micros($"ts")).as("tref")))
      ev.crossJoin(ref)
        .select($"event_type",
          dec(exp(-(($"tref" - unix_micros($"ts")).cast(DoubleType) / 3.6e9)
            * 0.6931471805599453), 18, 6).as("w"))
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"), dec(sum($"w"), 38, 6).as("decayed"))
        .orderBy($"event_type")
    },
    Some("""
      WITH r AS (SELECT MAX(epoch_us(ts)) AS tref FROM events)
      SELECT event_type, COUNT(*) AS n,
        CAST(SUM(CAST(exp(-((tref - epoch_us(ts)) / 3600000000.0)
          * 0.6931471805599453) AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS decayed
      FROM events, r GROUP BY event_type ORDER BY event_type"""))

  /** p22 — deterministic stratified sampling + train/valid split: keep a
    * per-language fraction of documents by hashing the DOC ID (not RNG —
    * hash-based sampling is reproducible across runs, engines, and
    * re-partitioning, which is why production corpus pipelines prefer it:
    * the sample is a pure function of the row). A second, independently
    * salted hash assigns the 90/10 train/valid split, so membership in
    * the sample and the split don't correlate. Narrow per-row work + one
    * tiny aggregate; rates are plan literals so Catalyst folds them.
    */
  private val p22 = Q(
    "p22_stratified_sample",
    (s, d) => {
      import s.implicits._
      def h(salt: String) = hash60(concat($"doc_id".cast(StringType), lit(salt)))
      val rate = when($"lang" === "en", 500).when($"lang" === "de", 250)
        .otherwise(100)
      T(s, d, "documents")
        .filter(h("_sample") % 1000 < rate)
        .select($"lang",
          when(h("_split") % 10 < 8, "train").otherwise("valid").as("split"),
          $"doc_id")
        .groupBy($"lang", $"split")
        .agg(count(lit(1)).as("n"), min($"doc_id").as("min_id"),
          max($"doc_id").as("max_id"))
        .orderBy($"lang", $"split")
    },
    Some("""
      WITH sampled AS (
        SELECT lang,
          CASE WHEN ('0x' || substr(md5(CAST(doc_id AS STRING) || '_split'), 1, 15))::BIGINT % 10 < 8
               THEN 'train' ELSE 'valid' END AS split,
          doc_id
        FROM documents
        WHERE ('0x' || substr(md5(CAST(doc_id AS STRING) || '_sample'), 1, 15))::BIGINT % 1000
              < CASE WHEN lang = 'en' THEN 500 WHEN lang = 'de' THEN 250 ELSE 100 END)
      SELECT lang, split, COUNT(*) AS n, MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
      FROM sampled GROUP BY lang, split ORDER BY lang, split"""))

  /** p23 — repetition-based quality rules (the Gopher-style filters real
    * corpus pipelines apply): per-document duplicate-token fraction and
    * most-frequent-token fraction, plus the reject verdict. Narrow per-row
    * array work; the top-token scan is O(tokens × distinct) per row, which
    * is the honest cost of an exact repetition measure (the sketch escape
    * hatch at extreme doc lengths is p19's heavy-hitters per doc).
    */
  private val p23 = Q(
    "p23_repetition",
    (s, d) => {
      import s.implicits._
      // Ratios stay RAW double (one division of identical ints — identical
      // bits in both engines, nothing to round); the verdict uses integer
      // cross-multiplication, so no threshold ever meets a rounding tie
      // (dyadic token counts like 128 put a 6-decimal cast exactly on the
      // half-up/half-even divergence).
      val toks = split($"text", " ")
      val n = size(toks)
      val nDistinct = size(array_distinct(toks))
      // Max token frequency as a max-run-length fold over the SORTED
      // token array — O(n log n) per row vs the O(distinct × n)
      // transform/filter count this replaces (guide §1.2 per-task work;
      // probe `p23shape`: 0.81 → 0.37 s warm at sf0.1, 0 mismatches on
      // the full corpus — the max frequency is the same number by
      // definition, any tokenization).
      val topCount = expr(
        """aggregate(array_sort(split(text, ' ')),
             named_struct('prev', CAST(NULL AS STRING), 'run', 0, 'best', 0),
             (a, t) -> named_struct(
               'prev', t,
               'run', IF(t <=> a.prev, a.run + 1, 1),
               'best', greatest(a.best, IF(t <=> a.prev, a.run + 1, 1))),
             a -> a.best)""")
      T(s, d, "documents")
        .select($"doc_id", n.as("n_tokens"),
          ((n - nDistinct).cast(DoubleType) / n.cast(DoubleType)).as("dup_ratio"),
          (topCount.cast(DoubleType) / n.cast(DoubleType)).as("top_tok_ratio"),
          ((n - nDistinct) * 2 >= n || topCount * 5 >= n).as("rejected"))
        .orderBy($"doc_id")
    },
    Some("""
      WITH m AS (
        SELECT doc_id,
          CAST(length(string_split(text, ' ')) AS INT) AS n_tokens,
          CAST(length(string_split(text, ' ')) - length(list_distinct(string_split(text, ' '))) AS INT) AS n_dup,
          CAST(list_max(list_transform(list_distinct(string_split(text, ' ')),
                 d -> length(list_filter(string_split(text, ' '), t -> t = d)))) AS INT) AS top_cnt
        FROM documents)
      SELECT doc_id, n_tokens,
        CAST(n_dup AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS dup_ratio,
        CAST(top_cnt AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS top_tok_ratio,
        (n_dup * 2 >= n_tokens OR top_cnt * 5 >= n_tokens) AS rejected
      FROM m ORDER BY doc_id"""))

  /** Benchmark DECONTAMINATION: flag training documents that share any
    * verbatim k-gram with a held-out benchmark set (the GPT-3 appendix-C
    * rule, where k=13 makes incidental collisions rare in real text). The
    * benchmark set is carved deterministically from the corpus
    * (doc_id % 97 = 0 — stand-in for the eval suites a real pipeline
    * loads); every other document reports how many of its distinct
    * k-grams hit the benchmark gram set.
    *
    * 100 TB shape: benchmark gram sets are SMALL (eval suites, not
    * corpora) — build once, broadcast, and the corpus side is narrow
    * explode → broadcast-hash join → partial-agg groupBy(doc_id). No
    * corpus shuffle at all before the per-doc rollup, and that rollup's
    * input is only the HIT grams (near-empty for a clean corpus). At
    * production vocab sizes, map grams → xxhash64 and broadcast a bloom
    * of the benchmark hashes first; exact string grams keep this entry
    * bit-identical to the DuckDB oracle.
    */
  def decontaminate(s: SparkSession, d: String, k: Int = 13): DataFrame = {
    import s.implicits._
    val docs = T(s, d, "documents")
      .select($"doc_id",
        graft.functions.ShingleArray.shingles($"text", k).as("gs"))
    val benchGrams = docs.filter($"doc_id" % 97 === 0)
      .select(explode($"gs").as("g")).distinct()
    docs.filter($"doc_id" % 97 =!= 0)
      .select($"doc_id", size($"gs").as("n_grams"), explode($"gs").as("g"))
      .join(broadcast(benchGrams), "g")
      .groupBy($"doc_id", $"n_grams")
      .agg(count(lit(1)).as("n_hit_grams"))
      .select($"doc_id", $"n_grams", $"n_hit_grams",
        dec($"n_hit_grams".cast(DoubleType) / $"n_grams".cast(DoubleType),
          18, 6).as("contamination"))
      .orderBy($"doc_id")
  }

  /** p24 — [[decontaminate]] at k=3: the synthetic corpus draws random
    * words from a ~40-word vocabulary, so verbatim 13-grams never recur
    * across documents and the canonical k would always return zero rows
    * (proving nothing). k=3 makes benchmark grams genuinely collide here,
    * exercising the identical plan; real deployments call k=13.
    */
  private val p24 = Q(
    "p24_decontaminate",
    (s, d) => decontaminate(s, d, 3),
    Some(s"""
      WITH g AS (SELECT doc_id, $shinglesSqlDuck AS gs FROM documents),
           b AS (SELECT DISTINCT unnest(gs) AS g FROM g WHERE doc_id % 97 = 0),
           t AS (SELECT doc_id, CAST(length(gs) AS INT) AS n_grams,
                   unnest(gs) AS g
                 FROM g WHERE doc_id % 97 <> 0)
      SELECT t.doc_id, t.n_grams, COUNT(*) AS n_hit_grams,
        CAST(CAST(COUNT(*) AS DOUBLE) / t.n_grams AS DECIMAL(18,6)) AS contamination
      FROM t JOIN b USING (g)
      GROUP BY t.doc_id, t.n_grams
      ORDER BY t.doc_id"""))

  /** p25 — VOCABULARY build + out-of-vocabulary scoring: global token
    * frequencies, keep the top-30 vocabulary (count desc, word asc — a
    * total order, so the cut is deterministic), then score every document
    * by the share of its tokens outside the vocabulary — the standard
    * cheap filter for gibberish/noise before tokenizer training.
    *
    * 100 TB shape: the frequency table is a two-phase (map-side partial)
    * count over exploded tokens — the one real shuffle, sized by
    * |distinct words|, not corpus rows; the vocabulary after the top-k cut
    * is tiny and broadcasts; per-doc scoring is narrow explode + broadcast
    * lookup + partial-agg rollup on doc_id. A production vocab of a few
    * million words still broadcasts (tens of MB); past that, bloom the
    * vocab instead.
    */
  private val p25 = Q(
    "p25_vocab_oov",
    (s, d) => {
      import s.implicits._
      val words = T(s, d, "documents")
        .select($"doc_id", explode(split($"text", " ")).as("w"))
      val vocab = words.groupBy($"w").agg(count(lit(1)).as("freq"))
        .orderBy($"freq".desc, $"w").limit(30)
        .select($"w", lit(1).as("in_vocab"))
      words.join(broadcast(vocab), Seq("w"), "left_outer")
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          sum(when($"in_vocab".isNull, 1L).otherwise(0L)).as("n_oov"))
        .select($"doc_id", $"n_tokens", $"n_oov",
          dec($"n_oov".cast(DoubleType) / $"n_tokens".cast(DoubleType),
            18, 6).as("oov_ratio"))
        .orderBy($"doc_id")
    },
    Some("""
      WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                 FROM documents),
           v AS (SELECT w FROM (SELECT w, COUNT(*) AS freq FROM w GROUP BY w
                 ORDER BY freq DESC, w LIMIT 30))
      SELECT w.doc_id, COUNT(*) AS n_tokens,
        CAST(SUM(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        CAST(CAST(SUM(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS DECIMAL(18,6)) AS oov_ratio
      FROM w LEFT JOIN v ON w.w = v.w
      GROUP BY w.doc_id ORDER BY w.doc_id"""))

  /** p26 — SEQUENCE PACKING: concatenate each source's token stream in
    * doc_id order and chunk it into fixed-budget training sequences (the
    * standard pretraining "pack then split at context length" step).
    * A document's sequence id is the bin its FIRST token lands in:
    * seq = floor(tokens_before / budget), where tokens_before is the
    * running sum of earlier docs' token counts — contiguous packing, no
    * reordering, deterministic.
    *
    * 100 TB shape: one window per source shard — a range-partitioned
    * prefix sum, the canonical distributed cumsum (partition by the shard
    * key; NO global sort). The per-sequence rollup shuffles only
    * (source, seq) keys. Long docs that straddle a boundary keep their
    * start bin, exactly like a packed token stream split at context
    * length; real pipelines then slice the flattened stream, which stays
    * narrow.
    */
  private val p26 = Q(
    "p26_sequence_packing",
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val budget = 256
      val w = Window.partitionBy($"source").orderBy($"doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      T(s, d, "documents")
        .select($"source", $"doc_id",
          size(split($"text", " ")).cast(LongType).as("n_tokens"))
        .withColumn("tokens_before",
          coalesce(sum($"n_tokens").over(w), lit(0L)))
        .withColumn("seq_id", expr(s"tokens_before div $budget"))
        .groupBy($"source", $"seq_id")
        .agg(count(lit(1)).as("n_docs"),
          sum($"n_tokens").as("seq_tokens"),
          min($"doc_id").as("first_doc"),
          max($"doc_id").as("last_doc"))
        .withColumn("fill_ratio",
          dec($"seq_tokens".cast(DoubleType) / lit(budget.toDouble), 18, 6))
        .orderBy($"source", $"seq_id")
    },
    Some("""
      WITH t AS (
        SELECT source, doc_id,
          CAST(length(string_split(text, ' ')) AS BIGINT) AS n_tokens,
          CAST(COALESCE(SUM(CAST(length(string_split(text, ' ')) AS BIGINT))
            OVER (PARTITION BY source ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS BIGINT) AS tokens_before
        FROM documents)
      SELECT source, CAST(tokens_before // 256 AS BIGINT) AS seq_id,
        COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS seq_tokens,
        MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc,
        CAST(CAST(SUM(n_tokens) AS DOUBLE) / 256.0 AS DECIMAL(18,6)) AS fill_ratio
      FROM t GROUP BY source, tokens_before // 256
      ORDER BY source, seq_id"""))

  /** p27 — PII SCRUBBING: detect and redact emails/phone numbers with
    * anchored regexes, reporting per-doc hit counts and the digest of the
    * redacted text. The synthetic corpus contains no organic PII (a
    * ~40-word vocabulary), so every 5th document gets a deterministic
    * contact line appended BY BOTH ENGINES before scanning — the same
    * derived-input pattern as the partsupp/lineitem extensions: the
    * injection is re-derived independently on each side, so the scrubbing
    * operator itself (not the injection) is what the oracle checks.
    *
    * 100 TB shape: pure narrow codegen'd regex work — no shuffle, no UDF;
    * scrubbing runs as a map-only pass before dedup so redacted twins
    * still collapse. Real deployments swap in bigger pattern banks
    * (IBAN/SSN/addresses) — same plan shape, more regexes.
    */
  private val p27 = Q(
    "p27_pii_scrub",
    (s, d) => {
      import s.implicits._
      val emailRe = "[A-Za-z0-9._]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val phoneRe = "\\+1-555-[0-9]{4}"
      T(s, d, "documents")
        .withColumn("injected",
          when($"doc_id" % 5 === 0,
            concat($"text", lit(" contact user"), $"doc_id".cast(StringType),
              lit("@example.com or call +1-555-"),
              lpad(($"doc_id" % 10000).cast(StringType), 4, "0")))
            .otherwise($"text"))
        .select($"doc_id",
          regexp_count($"injected", lit(emailRe)).cast(LongType).as("n_emails"),
          regexp_count($"injected", lit(phoneRe)).cast(LongType).as("n_phones"),
          md5(regexp_replace(regexp_replace($"injected", emailRe, "<EMAIL>"),
            phoneRe, "<PHONE>")).as("redacted_md5"))
        .withColumn("has_pii", ($"n_emails" + $"n_phones") > 0)
        .orderBy($"doc_id")
    },
    Some("""
      WITH inj AS (
        SELECT doc_id,
          CASE WHEN doc_id % 5 = 0
            THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com or call +1-555-'
              || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
            ELSE text END AS injected
        FROM documents)
      SELECT doc_id,
        CAST(length(regexp_extract_all(injected,
          '[A-Za-z0-9._]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        CAST(length(regexp_extract_all(injected,
          '\+1-555-[0-9]{4}')) AS BIGINT) AS n_phones,
        md5(regexp_replace(regexp_replace(injected,
          '[A-Za-z0-9._]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
          '\+1-555-[0-9]{4}', '<PHONE>', 'g')) AS redacted_md5,
        (length(regexp_extract_all(injected,
          '[A-Za-z0-9._]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
         + length(regexp_extract_all(injected, '\+1-555-[0-9]{4}'))) > 0 AS has_pii
      FROM inj ORDER BY doc_id"""))

  /** p28 — URL/DOMAIN FILTERING: derive each document's canonical URL
    * (deterministically from source/lang/doc_id — both engines re-derive
    * it, same pattern as p27's injection), regex-parse the host and the
    * path language segment, strip the `www.` prefix to the registrable
    * domain, and roll up per-domain stats with a blocklist flag
    * (every 7th source index is blocked — the stand-in for a real
    * domain blocklist a crawl pipeline loads).
    *
    * 100 TB shape: URL parse is narrow codegen'd regex; the blocklist
    * (real ones run ~10⁶ domains ≈ tens of MB) BROADCASTS — the flag join
    * costs no corpus shuffle; the only shuffle is the per-domain rollup,
    * sized by |domains|, not |docs|. At bloom-scale blocklists, swap the
    * broadcast join for a bloom filter — same plan otherwise.
    */
  private val p28 = Q(
    "p28_url_domain_filter",
    (s, d) => {
      import s.implicits._
      val docs = T(s, d, "documents")
        .withColumn("url", concat(lit("https://www."), $"source",
          lit(".example.com/"), $"lang", lit("/"), $"doc_id"))
        .withColumn("host", regexp_extract($"url", "https?://([^/]+)/", 1))
        .withColumn("domain", regexp_replace($"host", "^www\\.", ""))
        .withColumn("path_lang",
          regexp_extract($"url", "/([a-z]{2})/[0-9]+$", 1))
      val blocked = T(s, d, "documents")
        .select(concat($"source", lit(".example.com")).as("domain")).distinct()
        .filter(expr("CAST(substr(domain, 4, length(domain) - 15) AS INT) % 7 = 0"))
      docs.join(broadcast(blocked.withColumn("blocked", lit(true))),
          Seq("domain"), "left_outer")
        .groupBy($"domain")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct($"path_lang").as("n_langs"),
          min($"doc_id").as("min_doc"),
          coalesce(first($"blocked"), lit(false)).as("is_blocked"))
        .orderBy($"domain")
    },
    Some("""
      WITH docs AS (
        SELECT doc_id,
          'https://www.' || source || '.example.com/' || lang || '/'
            || CAST(doc_id AS VARCHAR) AS url
        FROM documents),
      parsed AS (
        SELECT doc_id,
          regexp_replace(regexp_extract(url, 'https?://([^/]+)/', 1),
            '^www\.', '') AS domain,
          regexp_extract(url, '/([a-z]{2})/[0-9]+$', 1) AS path_lang
        FROM docs),
      blocklist AS (
        SELECT DISTINCT source || '.example.com' AS domain FROM documents
        WHERE CAST(substr(source, 4) AS INT) % 7 = 0)
      SELECT p.domain, COUNT(*) AS n_docs,
        COUNT(DISTINCT p.path_lang) AS n_langs,
        MIN(p.doc_id) AS min_doc,
        COALESCE(MAX(b.domain IS NOT NULL), FALSE) AS is_blocked
      FROM parsed p LEFT JOIN blocklist b ON p.domain = b.domain
      GROUP BY p.domain ORDER BY p.domain"""))

  /** p29 — MIXTURE (temperature) SAMPLING: reweight sources by
    * n^α (α = 0.5 — upsample small sources, downsample big ones, the
    * standard multi-source pretraining mix), turn the weights into
    * per-source quotas of a 200-doc target, and select each source's docs
    * deterministically by md5 rank (a seeded uniform draw both engines
    * replay identically).
    *
    * Determinism: per-source sqrt is ONE double op cast to DECIMAL(18,8);
    * the normalizer S is an exact DECIMAL sum (order-independent — never
    * sum raw doubles across rows); weight/quota are then a fixed sequence
    * of scalar double ops on identical inputs.
    *
    * 100 TB shape: source histogram = one tiny two-phase count; the quota
    * table is |sources| rows and BROADCASTS back onto the corpus; the
    * md5 rank needs a per-source top-quota — a window here, a per-key
    * heap (TopKPerKey) when quotas are small and sources are few.
    */
  private val p29 = Q(
    "p29_mixture_sample",
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val target = 200
      val hist = T(s, d, "documents").groupBy($"source")
        .agg(count(lit(1)).as("n_docs"))
        .withColumn("w_raw", sqrt($"n_docs".cast(DoubleType)).cast(DecimalType(18, 8)))
      val norm = hist.agg(sum($"w_raw").as("w_sum"))
      val quotas = hist.crossJoin(broadcast(norm))
        .withColumn("weight",
          dec($"w_raw".cast(DoubleType) / $"w_sum".cast(DoubleType), 18, 6))
        .withColumn("quota",
          floor($"weight".cast(DoubleType) * lit(target.toDouble)).cast(LongType))
        .select($"source", $"n_docs", $"weight", $"quota")
      val ranked = T(s, d, "documents")
        .withColumn("rk", row_number().over(Window.partitionBy($"source")
          .orderBy(md5($"doc_id".cast(StringType)), $"doc_id")))
      ranked.join(broadcast(quotas), "source")
        .filter($"rk" <= $"quota")
        .select($"source", $"doc_id", $"rk".cast(LongType).as("sel_rank"),
          $"weight", $"quota")
        .orderBy($"source", $"doc_id")
    },
    Some("""
      WITH hist AS (
        SELECT source, COUNT(*) AS n_docs,
          CAST(sqrt(CAST(COUNT(*) AS DOUBLE)) AS DECIMAL(18,8)) AS w_raw
        FROM documents GROUP BY source),
      norm AS (SELECT SUM(w_raw) AS w_sum FROM hist),
      quotas AS (
        SELECT source, n_docs, weight,
          CAST(floor(CAST(weight AS DOUBLE) * 200.0) AS BIGINT) AS quota
        FROM (SELECT source, n_docs,
                CAST(CAST(w_raw AS DOUBLE) / CAST(w_sum AS DOUBLE)
                  AS DECIMAL(18,6)) AS weight
              FROM hist, norm) q0),
      ranked AS (
        SELECT source, doc_id,
          ROW_NUMBER() OVER (PARTITION BY source
            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        FROM documents)
      SELECT r.source, r.doc_id, CAST(r.rk AS BIGINT) AS sel_rank,
        q.weight, q.quota
      FROM ranked r JOIN quotas q ON r.source = q.source
      WHERE r.rk <= q.quota
      ORDER BY r.source, r.doc_id"""))

  /** p30 — corpus-level duplicated-PASSAGE detection (the cross-document
    * complement of p23's within-document repetition rules, and the exact
    * n-gram-granularity form of Lee et al.'s exact-substring dedup,
    * arXiv:2107.06499): post every distinct shingle to an inverted index,
    * call a shingle "duplicated" when >= 2 distinct documents contain it,
    * and score each document by the fraction of its shingles that are
    * duplicated. Unlike p24 (contamination against a FIXED benchmark set,
    * broadcast-joined), here the dup set is corpus-sized and unknowable in
    * advance — the defining workload of web-scale dedup.
    *
    * Shingle width: real deployments use ~50-token windows; the synthetic
    * corpus draws from a ~40-word vocabulary, so 3-grams are the widest
    * window that genuinely recurs across documents (same reasoning as
    * p24's k=3).
    *
    * 100 TB shape: ONE logical shuffle keyed on the shingle. ShingleArray
    * emits DISTINCT shingles per doc, so count(*) per shingle == distinct
    * docs — a pure partial-aggregable count (no posting lists, no
    * count-distinct expand), which is what absorbs the hot-shingle skew a
    * web corpus shows (boilerplate shingles appear in millions of docs
    * but still travel as partial counts). The dup set then rejoins the
    * exploded grams on the same key, so the exchange is computed once and
    * reused; per-doc fractions are a partial-agg rollup on doc_id.
    */
  private val p30 = Q(
    "p30_dup_passages",
    (s, d) => {
      import s.implicits._
      val grams = T(s, d, "documents")
        .select($"doc_id", shinglesCol.as("gs"))
        .select($"doc_id", size($"gs").as("n_grams"), explode($"gs").as("g"))
      val dup = grams.groupBy($"g")
        .agg(count(lit(1)).as("n_docs_with"))
        .filter($"n_docs_with" >= 2)
      grams.join(dup, "g")
        .groupBy($"doc_id", $"n_grams")
        .agg(count(lit(1)).as("n_dup_grams"),
          sum($"n_docs_with").as("dup_mass"))
        .select($"doc_id", $"n_grams", $"n_dup_grams", $"dup_mass",
          dec($"n_dup_grams".cast(DoubleType) / $"n_grams".cast(DoubleType),
            18, 6).as("dup_fraction"))
        .orderBy($"doc_id")
    },
    Some(s"""
      WITH g AS (SELECT doc_id, CAST(length(gs) AS INT) AS n_grams,
                   unnest(gs) AS g
                 FROM (SELECT doc_id, $shinglesSqlDuck AS gs FROM documents)),
      dup AS (SELECT g, COUNT(*) AS n_docs_with FROM g
              GROUP BY g HAVING COUNT(*) >= 2)
      SELECT g.doc_id, g.n_grams, COUNT(*) AS n_dup_grams,
        CAST(SUM(dup.n_docs_with) AS BIGINT) AS dup_mass,
        CAST(CAST(COUNT(*) AS DOUBLE) / g.n_grams AS DECIMAL(18,6))
          AS dup_fraction
      FROM g JOIN dup USING (g)
      GROUP BY g.doc_id, g.n_grams
      ORDER BY g.doc_id"""))

  /** p31 — semantic clustering: k-means over the embedding column with
    * EXACT integer arithmetic, reported as a cluster×label contingency
    * table (how well unsupervised clusters recover the generator's
    * labels). This is the standard curation move for topic balancing /
    * semantic dedup at corpus scale (cluster, then sample per cluster).
    *
    * Cross-engine determinism is the hard part of making k-means
    * oracle-checkable, and it is solved by construction:
    *   - embeddings quantize to integers once: q = floor(x * 1e6) (float
    *     → double is exact; one IEEE multiply + floor is bit-identical
    *     everywhere), and ALL distance math is then exact BIGINT
    *     (64 dims × (2e6)² ≈ 2.6e14 per distance — no overflow);
    *   - centroid update is floor(sum/count) with the division as the
    *     single IEEE double op (sums stay < 2^53 up to ~10^9 rows/cluster
    *     at this quantization, so the double division itself is
    *     deterministic);
    *   - seeds are the k lowest vec_ids; argmin ties break to the lowest
    *     cluster id via min(struct(dist, cid)).
    *
    * 100 TB shape: assignment is a BROADCAST cross join (k×64 longs) —
    * pure map-side, codegen'd zip_with/aggregate HOFs, no shuffle; the
    * update shuffles only (cid, pos) partial sums — k×64 groups
    * regardless of corpus size — and the loop is a fixed small iteration
    * count. Nothing driver-side ever materializes beyond the k-row
    * centroid table. This is exactly how MLlib's k-means distributes,
    * minus sketchy fp nondeterminism.
    */
  def kmeansContingency(s: SparkSession, d: String, k: Int = 4,
      iters: Int = 2): DataFrame = {
    import s.implicits._
    val q = T(s, d, "embeddings")
      .select($"vec_id", $"label",
        transform($"embedding",
          x => floor(x.cast(DoubleType) * lit(1000000.0)).cast(LongType))
          .as("q"))
    def assign(centroids: DataFrame): DataFrame = {
      val dist = aggregate(
        zip_with($"q", $"c", (a, b) => (a - b) * (a - b)),
        lit(0L), (acc, x) => acc + x)
      q.crossJoin(broadcast(centroids))
        .withColumn("dist", dist)
        .groupBy($"vec_id")
        .agg(min(struct($"dist", $"cid", $"label", $"q")).as("m"))
        .select($"vec_id", $"m.label".as("label"), $"m.cid".as("cid"),
          $"m.q".as("q"))
    }
    var centroids = q.filter($"vec_id" < k)
      .select($"vec_id".cast(IntegerType).as("cid"), $"q".as("c"))
    var assigned = assign(centroids)
    for (_ <- 1 to iters) {
      centroids = assigned
        .select($"cid", posexplode($"q").as(Seq("pos", "v")))
        .groupBy($"cid", $"pos")
        .agg(sum($"v").as("sv"), count(lit(1)).as("n"))
        .withColumn("cv",
          floor($"sv".cast(DoubleType) / $"n".cast(DoubleType)).cast(LongType))
        .groupBy($"cid")
        .agg(array_sort(collect_list(struct($"pos", $"cv"))).as("pcs"))
        .select($"cid", transform($"pcs", p => p.getField("cv")).as("c"))
      assigned = assign(centroids)
    }
    assigned.groupBy($"cid", $"label").agg(count(lit(1)).as("n_vecs"))
      .orderBy($"cid", $"label")
  }

  private def kmeansOracleDuck(k: Int = 4, iters: Int = 2): String = {
    // The same fixed-point iteration unrolled as CTEs: aN = assignment
    // against centroids c(N-1); cN = floor-mean centroid update from aN.
    val dist = (c: String) =>
      s"CAST(list_sum(list_transform(range(1, 65), i -> (q.q[i] - $c.c[i]) * (q.q[i] - $c.c[i]))) AS BIGINT)"
    def assignCte(n: Int, cSrc: String) = s"""
      a$n AS (
        SELECT vec_id, label, q, cid FROM (
          SELECT q.vec_id, q.label, q.q, c.cid,
            ROW_NUMBER() OVER (PARTITION BY q.vec_id
              ORDER BY ${dist("c")}, c.cid) AS rk
          FROM q, $cSrc c) WHERE rk = 1)"""
    def updateCte(n: Int) = s"""
      c$n AS (
        SELECT cid, list(cv ORDER BY pos) AS c FROM (
          SELECT cid, pos,
            CAST(FLOOR(CAST(SUM(v) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cv
          FROM (SELECT cid, unnest(q) AS v, generate_subscripts(q, 1) AS pos
                FROM a$n)
          GROUP BY cid, pos) GROUP BY cid)"""
    val rounds = (1 to iters).map(i => assignCte(i, s"c${i - 1}") +
      "," + updateCte(i)).mkString(",")
    s"""
      WITH q AS (
        SELECT vec_id, label,
          list_transform(embedding,
            x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS q
        FROM embeddings),
      c0 AS (SELECT CAST(vec_id AS INT) AS cid, q AS c FROM q
             WHERE vec_id < $k),
      $rounds,${assignCte(iters + 1, s"c$iters")}
      SELECT cid, label, COUNT(*) AS n_vecs FROM a${iters + 1}
      GROUP BY cid, label ORDER BY cid, label"""
  }

  private val p31 = Q(
    "p31_kmeans_clusters",
    (s, d) => kmeansContingency(s, d),
    Some(kmeansOracleDuck()))

  /** p32 — BPE PAIR STATISTICS: the inner loop of byte-pair-encoding
    * tokenizer training. Build the corpus word-frequency table, explode
    * each distinct word into its adjacent character pairs, and rank pairs
    * by frequency-weighted count — the top pair is what a BPE trainer
    * would merge next. One full iteration of the real algorithm (the
    * merge-and-repeat loop just reruns this plan on rewritten words).
    *
    * 100 TB shape: the corpus-sized work is ONE shuffle to the distinct-
    * word frequency table (vocabulary-sized, not corpus-sized); the pair
    * explode then runs over the VOCABULARY (millions of rows, not
    * billions), so each BPE iteration after the first costs vocab-scale,
    * exactly like production tokenizer trainers that pre-aggregate word
    * counts once.
    */
  private val p32 = Q(
    "p32_bpe_pair_stats",
    (s, d) => {
      import s.implicits._
      val wf = T(s, d, "documents")
        .select(explode(split($"text", " ")).as("w"))
        .groupBy($"w").agg(count(lit(1)).as("freq"))
        .filter(length($"w") >= 2)
      wf.select($"w", $"freq",
          explode(transform(sequence(lit(1), length($"w") - 1),
            i => $"w".substr(i, lit(2)))).as("pair"))
        .groupBy($"pair")
        .agg(sum($"freq").as("pair_count"), countDistinct($"w").as("n_words"))
        .orderBy($"pair_count".desc, $"pair")
        .limit(20)
    },
    Some("""
      WITH wf AS (
        SELECT w, COUNT(*) AS freq FROM (
          SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        GROUP BY w HAVING length(w) >= 2),
      p AS (
        SELECT unnest(list_transform(range(1, length(w)),
                 i -> substr(w, CAST(i AS INT), 2))) AS pair, w, freq
        FROM wf)
      SELECT pair, CAST(SUM(freq) AS BIGINT) AS pair_count,
        COUNT(DISTINCT w) AS n_words
      FROM p GROUP BY pair
      ORDER BY pair_count DESC, pair LIMIT 20"""))

  /** p33 — SNAPSHOT DIFF: content-addressed delta between two corpus
    * snapshots (the nightly question for a continuously-crawled corpus:
    * what was added, removed, changed?). Full outer join on doc_id, hash
    * compare for change detection, per-status rollup. The two snapshots
    * are derived deterministically from `documents` by BOTH engines
    * (prev = doc_id % 5 != 0 with %11 docs at an older text version;
    * cur = doc_id % 7 != 0 at the current text), so the diff operator —
    * not the derivation — is what the oracle checks.
    *
    * 100 TB shape: one shuffle per side on doc_id (or zero with both
    * snapshots bucketed by doc_id — the production layout for nightly
    * diffs); hashes travel instead of text, so the join rows are ~50
    * bytes regardless of document size.
    */
  private val p33 = Q(
    "p33_snapshot_diff",
    (s, d) => {
      import s.implicits._
      val docs = T(s, d, "documents")
      val prev = docs.filter($"doc_id" % 5 =!= 0)
        .select($"doc_id".as("p_id"),
          md5(when($"doc_id" % 11 === 0, concat($"text", lit(" v2")))
            .otherwise($"text")).as("p_hash"))
      val cur = docs.filter($"doc_id" % 7 =!= 0)
        .select($"doc_id".as("c_id"), md5($"text").as("c_hash"))
      prev.join(cur, $"p_id" === $"c_id", "full_outer")
        .select(
          when($"p_id".isNull, "added")
            .when($"c_id".isNull, "removed")
            .when($"p_hash" =!= $"c_hash", "changed")
            .otherwise("unchanged").as("status"),
          coalesce($"p_id", $"c_id").as("doc_id"))
        .groupBy($"status")
        .agg(count(lit(1)).as("n_docs"),
          min($"doc_id").as("first_doc"), max($"doc_id").as("last_doc"))
        .orderBy($"status")
    },
    Some("""
      WITH prev AS (
        SELECT doc_id AS p_id,
          md5(CASE WHEN doc_id % 11 = 0 THEN text || ' v2' ELSE text END)
            AS p_hash
        FROM documents WHERE doc_id % 5 <> 0),
      cur AS (
        SELECT doc_id AS c_id, md5(text) AS c_hash
        FROM documents WHERE doc_id % 7 <> 0),
      j AS (
        SELECT CASE WHEN p_id IS NULL THEN 'added'
                    WHEN c_id IS NULL THEN 'removed'
                    WHEN p_hash <> c_hash THEN 'changed'
                    ELSE 'unchanged' END AS status,
          COALESCE(p_id, c_id) AS doc_id
        FROM prev FULL OUTER JOIN cur ON p_id = c_id)
      SELECT status, COUNT(*) AS n_docs,
        MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
      FROM j GROUP BY status ORDER BY status"""))

  /** p34 — BOOLEAN SEARCH over the corpus (conjunctive term query +
    * term-frequency ranking): the curation-time tool for "find every
    * document mentioning all of X, Y, Z" — audit queries, targeted
    * takedowns, topical sub-corpus extraction. Documents must contain ALL
    * query terms (distinct-term count == |query|), ranked by total term
    * frequency with doc_id as the tiebreak.
    *
    * 100 TB shape: the query term set is a broadcast-resident filter
    * applied directly after the token explode — the scan side never
    * shuffles non-matching tokens; the one real shuffle is the per-doc
    * rollup on doc_id, sized by MATCHING tokens only. This is the
    * inverted-index probe topology without materializing the index (p30
    * materializes the index side when the whole corpus needs posting
    * counts).
    */
  private val p34 = Q(
    "p34_boolean_search",
    (s, d) => {
      import s.implicits._
      val terms = Seq("spark", "window", "agg")
      val toks = T(s, d, "documents")
        .select($"doc_id", explode(split($"text", " ")).as("w"))
        .filter($"w".isin(terms: _*))
      toks.groupBy($"doc_id")
        .agg(countDistinct($"w").as("n_terms"),
          count(lit(1)).as("tf"))
        .filter($"n_terms" === terms.length)
        .select($"doc_id", $"tf")
        .orderBy($"tf".desc, $"doc_id")
    },
    Some("""
      SELECT doc_id, COUNT(*) AS tf FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
      WHERE w IN ('spark', 'window', 'agg')
      GROUP BY doc_id HAVING COUNT(DISTINCT w) = 3
      ORDER BY tf DESC, doc_id"""))

  /** p35 — COLUMN PROFILING (the Deequ/Great-Expectations "profile" pass
    * every ingest runs first): per categorical column — row count, null
    * count, distinct count, and the modal value with its frequency
    * (count desc, then value DESC on a count tie — max(struct(n, value))
    * takes the largest value, and the oracle orders the same way; a total
    * order, so the mode is deterministic). Built by unpivoting the audited
    * columns into
    * (column, value) pairs so ONE aggregation topology profiles any
    * number of columns.
    *
    * 100 TB shape: the unpivot is a narrow row-expansion (×|columns|);
    * the one shuffle is on (column, value) — bounded by total distinct
    * values across audited columns, not corpus rows, thanks to partial
    * aggregation. The mode extraction is a tiny per-column argmax over
    * that already-aggregated table.
    */
  private val p35 = Q(
    "p35_profile",
    (s, d) => {
      import s.implicits._
      val cols = Seq("lang", "source")
      val pairs = T(s, d, "documents").select(
        explode(map(cols.flatMap(c =>
          Seq(lit(c), col(c).cast(StringType))): _*)).as(Seq("col_name", "value")))
      val freq = pairs.groupBy($"col_name", $"value")
        .agg(count(lit(1)).as("n"))
      freq.groupBy($"col_name")
        .agg(sum($"n").as("n_rows"),
          sum(when($"value".isNull, $"n").otherwise(lit(0L))).as("n_nulls"),
          count(lit(1)).as("n_distinct"),
          max(struct($"n", $"value")).as("m"))
        .select($"col_name", $"n_rows", $"n_nulls", $"n_distinct",
          $"m.value".as("mode_value"), $"m.n".as("mode_n"))
        .orderBy($"col_name")
    },
    Some("""
      WITH pairs AS (
        SELECT 'lang' AS col_name, lang AS value FROM documents
        UNION ALL
        SELECT 'source' AS col_name, source AS value FROM documents),
      freq AS (
        SELECT col_name, value, COUNT(*) AS n FROM pairs
        GROUP BY col_name, value),
      ranked AS (
        SELECT col_name, value, n,
          ROW_NUMBER() OVER (PARTITION BY col_name
            ORDER BY n DESC, value DESC) AS rk
        FROM freq)
      SELECT f.col_name,
        CAST(SUM(f.n) AS BIGINT) AS n_rows,
        CAST(SUM(CASE WHEN f.value IS NULL THEN f.n ELSE 0 END) AS BIGINT)
          AS n_nulls,
        COUNT(*) AS n_distinct,
        MAX(r.value) AS mode_value,
        CAST(MAX(r.n) AS BIGINT) AS mode_n
      FROM freq f JOIN ranked r ON f.col_name = r.col_name AND r.rk = 1
      GROUP BY f.col_name ORDER BY f.col_name"""))

  /** p36 — CONSTRAINT AUDIT (the Deequ-style "verify" pass): declarative
    * data-quality rules evaluated in ONE aggregation over the corpus, each
    * reported as (constraint, n_violations, passed). Rules here:
    * doc_id uniqueness, text non-null/non-empty, n_chars == length(text),
    * lang in the allowed set, doc_id non-negative. A failed audit gates
    * the pipeline run — which is why violations are COUNTED, not just
    * flagged: the on-call needs the blast radius.
    *
    * 100 TB shape: all row-level rules fold into one partial-aggregable
    * pass (sums of codegen'd indicator columns — no shuffle beyond the
    * final scalar merge); the uniqueness rule is the only keyed
    * aggregation, sized by |distinct doc_id|. The unpivot to one row per
    * constraint happens on a 1-row frame.
    */
  def constraintAudit(docs: DataFrame): DataFrame = {
      val s = docs.sparkSession
      import s.implicits._
      val rowRules = docs.agg(
        sum(when($"text".isNull || length($"text") === 0, 1L)
          .otherwise(0L)).as("text_nonempty"),
        sum(when($"n_chars" =!= length($"text"), 1L)
          .otherwise(0L)).as("n_chars_consistent"),
        sum(when(!$"lang".isin("en", "de", "es", "fr", "zh"), 1L)
          .otherwise(0L)).as("lang_in_domain"),
        sum(when($"doc_id" < 0, 1L).otherwise(0L)).as("doc_id_nonnegative"))
      val dupIds = docs.groupBy($"doc_id").agg(count(lit(1)).as("n"))
        .filter($"n" > 1)
        .agg(coalesce(sum($"n" - 1), lit(0L)).as("doc_id_unique"))
      rowRules.crossJoin(dupIds)
        .select(explode(map(
          Seq("text_nonempty", "n_chars_consistent", "lang_in_domain",
            "doc_id_nonnegative", "doc_id_unique").flatMap(c =>
            Seq(lit(c), col(c))): _*)).as(Seq("rule", "n_violations")))
        .select($"rule", $"n_violations",
          ($"n_violations" === 0L).as("passed"))
        .orderBy($"rule")
  }

  private val p36 = Q(
    "p36_constraints",
    (s, d) => constraintAudit(T(s, d, "documents")),
    Some("""
      WITH row_rules AS (
        SELECT
          CAST(SUM(CASE WHEN text IS NULL OR length(text) = 0
            THEN 1 ELSE 0 END) AS BIGINT) AS text_nonempty,
          CAST(SUM(CASE WHEN n_chars <> length(text)
            THEN 1 ELSE 0 END) AS BIGINT) AS n_chars_consistent,
          CAST(SUM(CASE WHEN lang NOT IN ('en','de','es','fr','zh')
            THEN 1 ELSE 0 END) AS BIGINT) AS lang_in_domain,
          CAST(SUM(CASE WHEN doc_id < 0 THEN 1 ELSE 0 END) AS BIGINT)
            AS doc_id_nonnegative
        FROM documents),
      dup AS (
        SELECT CAST(COALESCE(SUM(n - 1), 0) AS BIGINT) AS doc_id_unique
        FROM (SELECT doc_id, COUNT(*) AS n FROM documents
              GROUP BY doc_id HAVING COUNT(*) > 1)),
      m AS (
        SELECT 'text_nonempty' AS rule, text_nonempty AS n_violations
          FROM row_rules
        UNION ALL SELECT 'n_chars_consistent', n_chars_consistent FROM row_rules
        UNION ALL SELECT 'lang_in_domain', lang_in_domain FROM row_rules
        UNION ALL SELECT 'doc_id_nonnegative', doc_id_nonnegative FROM row_rules
        UNION ALL SELECT 'doc_id_unique', doc_id_unique FROM dup)
      SELECT rule, n_violations, n_violations = 0 AS passed
      FROM m ORDER BY rule"""))

  /** p37 — token-window chunking: split each document into fixed-size
    * training windows (W=128 tokens, stride S=96 → 32-token overlap), the
    * step every context-window pipeline runs between cleaning and packing
    * (p26 packs whole docs; p37 is the intra-document form). Chunks are
    * emitted as digests (they feed dedup downstream, not humans). Pure
    * narrow map + explode — ZERO shuffles, so it scales with input bytes
    * and nothing else.
    */
  val ChunkW = 128
  val ChunkS = 96

  /** p37 core without the output sort — legal on a streaming frame
    * (stateless map + explode), reused by StreamPipeline.chunkStream. */
  def chunkWindowsRaw(docs: DataFrame): DataFrame = {
    val toks = docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("n", size(col("toks")))
    // chunk count = 1 + floor(max(0, n - W + S - 1) / S); ints stay well
    // inside double exactness, so the one fp division is exact.
    val extra = floor(greatest(lit(0), col("n") - ChunkW + ChunkS - 1)
      .cast(DoubleType) / ChunkS).cast(IntegerType)
    toks
      .withColumn("chunk_id", explode(sequence(lit(0), extra)))
      .withColumn("chunk",
        slice(col("toks"), col("chunk_id") * ChunkS + 1, lit(ChunkW)))
      .select(col("doc_id"), col("chunk_id"),
        (col("chunk_id") * ChunkS).as("chunk_start"),
        size(col("chunk")).as("n_chunk_tokens"),
        md5(array_join(col("chunk"), " ")).as("chunk_digest"))
  }

  /** p37 body — exposed so tests can drive synthetic edge corpora
    * (doc shorter than / exactly / one past the window). */
  def chunkWindows(docs: DataFrame): DataFrame =
    chunkWindowsRaw(docs).orderBy(col("doc_id"), col("chunk_id"))

  private val p37 = Q(
    "p37_chunk_windows",
    (s, d) => chunkWindows(T(s, d, "documents")),
    Some(s"""
      WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks,
                   length(string_split(text, ' ')) AS n FROM documents),
      c AS (SELECT doc_id, toks, n,
              unnest(range(0, 1 + (greatest(0, n - $ChunkW + $ChunkS - 1) // $ChunkS)))
                AS chunk_id
            FROM t)
      SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
        CAST(chunk_id * $ChunkS AS INT) AS chunk_start,
        CAST(length(list_slice(toks, chunk_id * $ChunkS + 1,
          least(chunk_id * $ChunkS + $ChunkW, n))) AS INT) AS n_chunk_tokens,
        md5(array_to_string(list_slice(toks, chunk_id * $ChunkS + 1,
          least(chunk_id * $ChunkS + $ChunkW, n)), ' ')) AS chunk_digest
      FROM c ORDER BY doc_id, chunk_id"""))

  /** p38 — rare-term extraction: per document, the 3 most distinctive
    * terms — lowest document frequency across the corpus, ranked by
    * (df asc, tf desc, term asc) — the integer-exact cousin of tf-idf
    * ranking, used for index keys and topic tagging. (No absolute df
    * cutoff: distinctiveness is relative, so the entry is meaningful for
    * any vocabulary shape — TESTDATA's synthetic docs draw from ~31
    * terms with df ≈ 0.8·N, where a fixed threshold would gate nothing.) Runs through the
    * native TopKPerKey physical operator (bounded per-key heaps — no full
    * sort, no rank-filter window), proving it composes inside a pipeline
    * entry, not just q31's standalone form. Two shuffles (tf, df) + one
    * term join that AQE broadcasts while df fits and shuffles past that.
    */
  /** p38 body — exposed for the window-recompute agreement test. */
  def rareTerms(docs: DataFrame, k: Int = 3): DataFrame = {
    val tf = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val df_ = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    graft.plans.TopK.perKey(
      tf.join(df_, "term")
        .select(col("doc_id"), col("term"), col("tf"), col("df")),
      keys = Seq(col("doc_id")),
      order = Seq(col("df").asc, col("tf").desc, col("term").asc),
      k = k)
      .orderBy(col("doc_id"), col("term"))
  }

  private val p38 = Q(
    "p38_rare_terms",
    (s, d) => rareTerms(T(s, d, "documents")),
    Some("""
      WITH terms AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                     FROM documents),
      tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
             FROM terms GROUP BY doc_id, term),
      df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df
             FROM tf GROUP BY term),
      r AS (SELECT tf.doc_id, tf.term, tf.tf, df.df,
              ROW_NUMBER() OVER (PARTITION BY tf.doc_id
                ORDER BY df.df, tf.tf DESC, tf.term) AS rn
            FROM tf JOIN df USING (term))
      SELECT doc_id, term, tf, df FROM r WHERE rn <= 3
      ORDER BY doc_id, term"""))

  /** p39 — shingle novelty: per document, the fraction of its 3-gram
    * shingles not seen in any LOWER-doc_id document (first-seen
    * attribution via min(doc_id) per shingle) — the cheap memorization /
    * boilerplate-saturation signal curation pipelines track as a corpus
    * grows. Docs with fewer than 3 tokens have no shingles and drop out
    * (mirrored by unnest on both engines). One shuffle on the shingle key
    * (the min-groupBy and the join share it) + the final doc aggregate.
    */
  /** p39 body — exposed for the novelty-invariant tests. */
  def shingleNovelty(docs: DataFrame): DataFrame = {
    val e = docs.select(col("doc_id"), explode(shinglesCol).as("shingle"))
    val first = e.groupBy(col("shingle")).agg(min(col("doc_id")).as("first_doc"))
    e.join(first, "shingle")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .select(col("doc_id"), col("n_shingles"), col("n_novel"),
        dec(col("n_novel").cast(DoubleType) / col("n_shingles").cast(DoubleType),
          18, 6).as("novelty"))
      .orderBy(col("doc_id"))
  }

  private val p39 = Q(
    "p39_shingle_novelty",
    (s, d) => shingleNovelty(T(s, d, "documents")),
    Some(s"""
      WITH sh AS (SELECT doc_id, $shinglesSqlDuck AS sh FROM documents),
      e AS (SELECT doc_id, unnest(sh) AS shingle FROM sh),
      f AS (SELECT shingle, MIN(doc_id) AS first_doc FROM e GROUP BY shingle)
      SELECT e.doc_id,
        CAST(COUNT(*) AS BIGINT) AS n_shingles,
        CAST(SUM(CASE WHEN f.first_doc = e.doc_id THEN 1 ELSE 0 END)
          AS BIGINT) AS n_novel,
        CAST(CAST(SUM(CASE WHEN f.first_doc = e.doc_id THEN 1 ELSE 0 END)
          AS DOUBLE) / COUNT(*) AS DECIMAL(18,6)) AS novelty
      FROM e JOIN f ON e.shingle = f.shingle
      GROUP BY e.doc_id ORDER BY e.doc_id"""))

  /** p40 — snapshot embedding drift: after a re-embedding run, measure how
    * far each item moved — cosine between the old and new vector of the
    * same item, aggregated per label (the standard health check before
    * swapping an embedding index). Snapshot pairing here is consecutive
    * vec_ids (even = old run, odd = new run of the same item), the
    * deterministic stand-in TESTDATA supports. Per-pair cosine reuses the
    * oracle-proven sequential fold (p10/p11); aggregates follow p11's
    * exact pattern (DECIMAL sum + min/max, no mean division). Scale shape:
    * one co-partitioned self-join on the id key + one aggregate.
    */
  private val p40 = Q(
    "p40_embedding_drift",
    (s, d) => {
      import s.implicits._
      val emb = T(s, d, "embeddings")
      val old_ = emb.filter($"vec_id" % 2 === 0)
        .select($"vec_id", $"label", $"embedding".as("v_old"))
      val neu = emb.select(($"vec_id" - 1).as("vec_id"),
        $"embedding".as("v_new"))
      old_.join(neu, "vec_id")
        .select($"label",
          dec(VectorFunctions.cosine_similarity($"v_old", $"v_new"), 18, 6)
            .as("cos"))
        .groupBy($"label")
        .agg(count(lit(1)).as("n_pairs"),
          dec(sum($"cos"), 38, 6).as("sum_cos"),
          min($"cos").as("min_cos"),
          max($"cos").as("max_cos"))
        .orderBy($"label")
    },
    Some(s"""
      WITH pairs AS (
        SELECT a.label,
          CAST(${foldDotDuck("a.embedding", "b.embedding")} /
               (sqrt(${foldDotDuck("a.embedding", "a.embedding")}) *
                sqrt(${foldDotDuck("b.embedding", "b.embedding")}))
            AS DECIMAL(18,6)) AS cos
        FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
        WHERE a.vec_id % 2 = 0)
      SELECT label, COUNT(*) AS n_pairs,
        CAST(SUM(cos) AS DECIMAL(38,6)) AS sum_cos,
        MIN(cos) AS min_cos, MAX(cos) AS max_cos
      FROM pairs GROUP BY label ORDER BY label"""))

  /** Bit-interleave two 16-bit values into a 32-bit Z-order (Morton)
    * value: bit i of `x` lands at position 2i, bit i of `y` at 2i+1.
    * Pure bitwise Column arithmetic (shift/and/or over BIGINT), so it
    * stays inside WholeStageCodegen and is bit-identical on any engine
    * with integer shifts — the DuckDB oracle re-derives it from the same
    * generator loop (`zInterleaveSql`).
    */
  def zInterleave16(x: Column, y: Column): Column = {
    // Widen to 64-bit FIRST: shiftleft preserves a 32-bit input's type,
    // so an IntegerType y >= 32768 would land bit 15 on the Int sign bit
    // and produce negative Morton keys (a 32-bit interleave cannot fit
    // an Int). Library callers pass whatever key type their table has.
    val (xl, yl) = (x.cast(LongType), y.cast(LongType))
    (0 until 16).map { i =>
      shiftleft(shiftright(xl, i).bitwiseAND(lit(1L)), 2 * i)
        .bitwiseOR(shiftleft(shiftright(yl, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_ bitwiseOR _)
  }

  /** The same interleave as a SQL text for the oracle (DuckDB `>> << & |`
    * operate on BIGINT exactly like Spark's shift/and/or). */
  private def zInterleaveSql(x: String, y: String): String =
    (0 until 16).map { i =>
      s"(((($x >> $i) & 1) << ${2 * i}) | ((($y >> $i) & 1) << ${2 * i + 1}))"
    }.mkString(" | ")

  /** p41 — Z-order layout manifest: the multi-dimensional data-layout
    * lever for 100 TB scans. Min/max file skipping only prunes on the
    * sort dimension of a linearly-sorted table; sorting by the Z-order
    * interleave of TWO filter dimensions bounds every file's min/max
    * range in BOTH, so selective predicates on either (or both) skip
    * files. This entry computes the manifest a layout writer would use:
    * normalize (l_partkey, l_suppkey) to 16 bits with exact integer
    * arithmetic (`(v - min) * 65535 div (max - min)` — no IEEE ops),
    * interleave, bucket by the top 5 Z bits (32 buckets ≈ 32 files), and
    * emit per-bucket count + min/max of both dims. The bounded spans in
    * the output ARE the skipping guarantee; ScaleSpec proves the physical
    * form (a Z-sorted parquet write bounds every file's span in both
    * dims, a linear sort leaves the second dim unbounded). Scale shape:
    * one broadcast of the 1-row extent aggregate + one shuffle on the
    * bucket key.
    */
  private val p41 = Q(
    "p41_zorder_layout",
    (s, d) => {
      import s.implicits._
      val li = T(s, d, "lineitem")
        .select($"l_partkey".cast(LongType).as("p"),
          $"l_suppkey".cast(LongType).as("sk"))
      val ext = li.agg(min($"p").as("pmin"), max($"p").as("pmax"),
        min($"sk").as("smin"), max($"sk").as("smax"))
      li.crossJoin(broadcast(ext))
        .withColumn("x16", expr("((p - pmin) * 65535) div (pmax - pmin)"))
        .withColumn("y16", expr("((sk - smin) * 65535) div (smax - smin)"))
        .withColumn("zbucket", shiftright(zInterleave16($"x16", $"y16"), 27))
        .groupBy($"zbucket")
        .agg(count(lit(1)).as("n"),
          min($"p").as("p_min"), max($"p").as("p_max"),
          min($"sk").as("s_min"), max($"sk").as("s_max"))
        .orderBy($"zbucket")
    },
    Some(s"""
      WITH li AS (
        SELECT CAST(l_partkey AS BIGINT) AS p, CAST(l_suppkey AS BIGINT) AS sk
        FROM lineitem),
      ext AS (
        SELECT MIN(p) AS pmin, MAX(p) AS pmax, MIN(sk) AS smin, MAX(sk) AS smax
        FROM li),
      norm AS (
        SELECT p, sk,
          ((p - pmin) * 65535) // (pmax - pmin) AS x16,
          ((sk - smin) * 65535) // (smax - smin) AS y16
        FROM li CROSS JOIN ext),
      z AS (SELECT p, sk, (${zInterleaveSql("x16", "y16")}) AS zval FROM norm)
      SELECT zval >> 27 AS zbucket, CAST(COUNT(*) AS BIGINT) AS n,
        MIN(p) AS p_min, MAX(p) AS p_max, MIN(sk) AS s_min, MAX(sk) AS s_max
      FROM z GROUP BY zval >> 27 ORDER BY zbucket"""))

  /** p42 — graph authority (PageRank, 3 fixed-point iterations) over the
    * customer–supplier transaction graph: nodes are customers and
    * suppliers that traded (distinct (custkey, suppkey) pairs through
    * orders x lineitem), edges run both ways, damping 0.85. The third
    * iterative-algorithm class in the catalog next to p17's connected
    * components and p31's k-means — and like p31 it is oracle-checkable
    * because ALL arithmetic is exact integer: ranks are scaled by 10^6,
    * per-edge contributions are `rank div outdeg`, the damped update is
    * `150000 + (85 * inc) div 100` — floor division is deterministic and
    * identical in both engines, so three unrolled rounds land bit-equal.
    * Scale shape: each round is one join on the src key + one aggregate
    * on dst — the canonical distributed PageRank topology. `edges` and
    * `deg` are `pin`ned once (p17's localCheckpoint pattern): without it
    * the unrolled lineage re-derives the lineitem⋈orders distinct on
    * every reference (~7× the scan work; measured 11.5 s → pinned ~2 s
    * at sf0.1). At real iteration counts the per-round rank would be
    * pinned too, exactly as p17's CC loop does. Top-20 by rank with a
    * total deterministic order.
    */
  /** p42's body, with the broadcast guard threshold exposed so ScaleSpec
    * can force the over-threshold path (plain joins, no broadcast hints)
    * and prove both modes produce identical ranks — the same
    * parameterization pattern as dedupClusters' maxBroadcastLabels. */
  private[graft] def graphAuthority(s: SparkSession, d: String,
      maxBroadcastNodes: Long = 1L << 21): DataFrame = {
      import s.implicits._
      // Node ids stay INTEGER through every shuffle/group/join (customer
      // 2k, supplier 2k+1 — disjoint by parity); the "c…"/"s…" display
      // strings are minted only at presentation. String keys here cost
      // measurably at sf0.1 (~35% of the entry) and linearly more at
      // scale — 8-byte fixed-width keys hash, compare, and ship cheaper
      // than varlen UTF8 in every round.
      val pairs = T(s, d, "lineitem").select($"l_orderkey", $"l_suppkey")
        .join(T(s, d, "orders").select($"o_orderkey", $"o_custkey"),
          $"l_orderkey" === $"o_orderkey")
        .select(($"o_custkey" * 2).as("cnode"),
          ($"l_suppkey" * 2 + 1).as("snode"))
        .distinct()
      // r15: both edge directions are minted IN-ROW by a generator
      // (explode over a 2-struct array), so `pairs` is consumed exactly
      // once — the r14-era DISK_ONLY intermediate pin (needed when the
      // forward/reversed unionAll read pairs twice and ReuseExchange
      // could not dedupe the branches — measured 0 reused exchanges) is
      // gone along with its full write+read of the pair set (~1 GB at
      // sf10). Same multiset of edges; the repartition($"dst") below
      // hashes each row to the same partition either way.
      // Pin the doubled edge list HASH-PARTITIONED BY dst (the round
      // aggregate's key). This is the per-round memory fix the sf10 gate
      // needed: with edges unclustered, every round's partial
      // `groupBy(dst)` map holds ~ALL node keys in EVERY task (1.6M keys
      // × 32 concurrent maps at sf10 ≈ several GB of execution memory —
      // the UNABLE_TO_ACQUIRE_MEMORY incident under the default 8g heap,
      // BENCH_NOTES r7). Partitioned by dst, each task's map holds only
      // its partition's share (~nodes/32), the partial output IS the
      // final per-dst sum, and the per-round exchange carries ~node-count
      // pre-aggregated rows instead of the full edge count. One extra
      // 2×|pairs| shuffle at build time buys three (at real iteration
      // counts: all) rounds of partition-local aggregation — the same
      // partitioned-adjacency discipline distributed PageRank uses at
      // cluster scale, where the adjacency is partitioned once and every
      // superstep reuses it.
      // DISK_ONLY (see pinDisk): the adjacency is the one multi-GB
      // resident; keeping it out of protected storage memory is what
      // lets the round aggregates breathe inside the default heap.
      val edges = pinDisk(
        pairs.select(explode(array(
            struct($"cnode".as("src"), $"snode".as("dst")),
            struct($"snode".as("src"), $"cnode".as("dst")))).as("e"))
          .select($"e.src".as("src"), $"e.dst".as("dst"))
          .repartition($"dst"))
      // Degree is counted on DST, not src: the doubled edge list is
      // symmetric (pair (c,s) contributes src occurrences {c,s} AND dst
      // occurrences {s,c}), so outdeg(x) == indeg(x) — and grouping on
      // the partitioning key keeps THIS aggregate's maps partition-local
      // too. Grouping on src here was the second memory hot spot: over
      // dst-partitioned edges every task sees ~every src key, which is
      // exactly the 32-concurrent-full-keyspace-maps shape the
      // repartition exists to prevent.
      val deg = pin(edges.groupBy($"dst".as("src"))
        .agg(count(lit(1)).as("outdeg")))
      // pin resets plan stats to default (huge), so size-based planning
      // would sort-merge every round. The node table is edge-ENDPOINTs —
      // orders of magnitude smaller than edges — so hint broadcast while
      // it fits, counted ONCE from the pinned table (p17's guard pattern).
      // PAST the cap, hint SHUFFLE_HASH on the node side rather than
      // falling to sort-merge: SMJ sorts the BILLION-row edge side every
      // round (32 concurrent UnsafeExternalSorters was the sf100 OOM
      // site), while a shuffled hash join builds ~nodes/32-row maps per
      // task and STREAMS the edge side — same result, no edge sort.
      val hint: DataFrame => DataFrame =
        if (deg.count() <= maxBroadcastNodes) broadcast
        else df => df.hint("shuffle_hash")
      // Bidirectional edges: every node has outdeg >= 1 and indeg >= 1.
      // rank carries outdeg so each round is ONE edges-side join (the
      // per-edge contribution) + one node-side left join (the update).
      var rank = deg.select($"src".as("node"), $"outdeg",
        lit(1000000L).as("rank"))
      for (_ <- 1 to 3) {
        val inc = edges
          .join(hint(rank.select($"node".as("src"), $"outdeg", $"rank")),
            "src")
          .select($"dst", expr("rank div outdeg").as("c"))
          .groupBy($"dst").agg(sum($"c").as("inc"))
        rank = deg.select($"src".as("node"), $"outdeg")
          .join(hint(inc.withColumnRenamed("dst", "node")), Seq("node"),
            "left")
          .select($"node", $"outdeg",
            (lit(150000L) + expr("(85 * coalesce(inc, 0L)) div 100"))
              .as("rank"))
      }
      rank.select(
          when($"node" % 2 === 0,
            concat(lit("c"), expr("CAST(node div 2 AS STRING)")))
            .otherwise(concat(lit("s"), expr("CAST((node - 1) div 2 AS STRING)")))
            .as("node"),
          $"rank")
        .orderBy($"rank".desc, $"node").limit(20)
  }

  private val p42 = Q(
    "p42_graph_authority",
    (s, d) => graphAuthority(s, d),
    Some("""
      WITH pairs AS (
        SELECT DISTINCT 'c' || o_custkey AS cnode, 's' || l_suppkey AS snode
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      edges AS (SELECT cnode AS src, snode AS dst FROM pairs
                UNION ALL SELECT snode, cnode FROM pairs),
      deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg
              FROM edges GROUP BY src),
      r0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS rank FROM deg),
      i1 AS (SELECT e.dst AS node, CAST(SUM(r.rank // d.outdeg) AS BIGINT) AS inc
             FROM edges e JOIN deg d ON e.src = d.src
                          JOIN r0 r ON e.src = r.node GROUP BY e.dst),
      r1 AS (SELECT d.src AS node,
               CAST(150000 + (85 * COALESCE(i.inc, 0)) // 100 AS BIGINT) AS rank
             FROM deg d LEFT JOIN i1 i ON d.src = i.node),
      i2 AS (SELECT e.dst AS node, CAST(SUM(r.rank // d.outdeg) AS BIGINT) AS inc
             FROM edges e JOIN deg d ON e.src = d.src
                          JOIN r1 r ON e.src = r.node GROUP BY e.dst),
      r2 AS (SELECT d.src AS node,
               CAST(150000 + (85 * COALESCE(i.inc, 0)) // 100 AS BIGINT) AS rank
             FROM deg d LEFT JOIN i2 i ON d.src = i.node),
      i3 AS (SELECT e.dst AS node, CAST(SUM(r.rank // d.outdeg) AS BIGINT) AS inc
             FROM edges e JOIN deg d ON e.src = d.src
                          JOIN r2 r ON e.src = r.node GROUP BY e.dst),
      r3 AS (SELECT d.src AS node,
               CAST(150000 + (85 * COALESCE(i.inc, 0)) // 100 AS BIGINT) AS rank
             FROM deg d LEFT JOIN i3 i ON d.src = i.node)
      SELECT node, rank FROM r3 ORDER BY rank DESC, node LIMIT 20"""))

  /** p43 — bloom-filter file-pruning manifest: the membership twin of
    * p41's min/max Z-order manifest. Min/max extents prune RANGE
    * predicates; point lookups on a high-cardinality key (l_partkey)
    * need per-file membership, which is what writer-side bloom filters
    * give. This entry computes the manifest: lineitem sliced into 32
    * "files" (l_orderkey % 32 stands in for the writer's file split), a
    * 240-bit bloom per file over l_partkey as 4×60-bit BIGINT words
    * (k=2 independent md5-derived positions; 60-bit words keep every
    * shift off the sign bit in both engines), then a probe set (parts
    * with p_partkey % 499 = 7 — some present, some absent from
    * lineitem) evaluated against it: files admitted by the bloom vs
    * files actually containing the key, per probe key. admitted ≥
    * actual ALWAYS (no false negatives — property-tested per
    * (key, file) in CatalogSpec); the false-positive column is the
    * pruning quality a layout writer would monitor. Scale shape: the
    * build is one shuffle on the file key (at write time it is a free
    * per-file writer aggregate); the manifest is files × 4 words —
    * broadcast to probes, so point-lookup planning never touches data.
    */
  /** The k=2 bloom positions in [0, 240) from ONE md5 of the key (the
    * MinHash one-md5 scheme, sigExpr above): `hash60` halves 0 and 1
    * (DuckDB: hex chars 1–15 and 17–31) are independent 60-bit halves of
    * the digest, always positive, exact in both engines. One digest per
    * row, not two — md5 is the dominant per-row cost of the manifest
    * build. */
  private[graft] def bloomPos(key: Column, half: Int): Column =
    hash60(concat(key.cast(StringType), lit("_bf")), half) % 240
  private def bloomPosSql(key: String, half: Int): String =
    s"('0x' || substr(md5(CAST($key AS VARCHAR) || '_bf'), ${if (half == 0) 1 else 17}, 15))::BIGINT % 240"

  /** Fold per-row positions (p1, p2) into the 4×60-bit bloom words of
    * each file_id group. bit_or is a mergeable (map-side partial)
    * aggregate, so the build is one narrow shuffle on file_id. */
  private[graft] def bloomWords(keyed: DataFrame): DataFrame = {
    def contrib(j: Int) = expr(
      s"""bit_or((CASE WHEN p1 div 60 = $j
                       THEN shiftleft(CAST(1 AS BIGINT), CAST(p1 % 60 AS INT))
                       ELSE CAST(0 AS BIGINT) END) |
                 (CASE WHEN p2 div 60 = $j
                       THEN shiftleft(CAST(1 AS BIGINT), CAST(p2 % 60 AS INT))
                       ELSE CAST(0 AS BIGINT) END))""").as(s"w$j")
    keyed.groupBy(col("file_id"))
      .agg(contrib(0), contrib(1), contrib(2), contrib(3))
  }

  /** Membership test of probe positions (q1, q2) against words w0–w3. */
  private[graft] def bloomHit: Column = expr(
    """((CASE q1 div 60 WHEN 0 THEN w0 WHEN 1 THEN w1 WHEN 2 THEN w2 ELSE w3 END)
         & shiftleft(CAST(1 AS BIGINT), CAST(q1 % 60 AS INT))) != 0
       AND
       ((CASE q2 div 60 WHEN 0 THEN w0 WHEN 1 THEN w1 WHEN 2 THEN w2 ELSE w3 END)
         & shiftleft(CAST(1 AS BIGINT), CAST(q2 % 60 AS INT))) != 0""")

  /** p43 — bloom-filter file-pruning manifest: the point-lookup twin of
    * p41's min/max Z-order manifest. Min/max extents prune RANGE
    * predicates; equality lookups on a high-cardinality key (l_partkey)
    * need per-file membership, which is what writer-side bloom filters
    * give. lineitem is sliced into 32 "files" (l_orderkey % 32 stands in
    * for the writer's file split), each file gets a 240-bit bloom over
    * l_partkey as 4×60-bit BIGINT words (k=2 salted-md5 positions;
    * 60-bit words keep every shift off the sign bit in both engines,
    * `bit_or` folds the masks map-side). A probe set (parts with
    * p_partkey % 499 = 7 — some present in lineitem, some absent) is then
    * evaluated against the manifest: files ADMITTED by the bloom vs files
    * ACTUALLY containing the key. admitted ⊇ actual always (no false
    * negatives — property-tested per (key, file) in CatalogSpec); the
    * false-positive column is the pruning quality a layout writer
    * monitors to size m/k. Scale shape: the build is one shuffle on the
    * file key (at write time it is a free per-file writer aggregate); the
    * manifest is files × 4 words, broadcast to the probe side — planning
    * a point lookup never touches the data files.
    */
  private val p43 = Q(
    "p43_bloom_manifest",
    (s, d) => {
      import s.implicits._
      val li = T(s, d, "lineitem")
        .select(($"l_orderkey" % 32).as("file_id"), $"l_partkey")
      val blooms = bloomWords(li
        .withColumn("p1", bloomPos($"l_partkey", 0))
        .withColumn("p2", bloomPos($"l_partkey", 1)))
      val probes = T(s, d, "part").filter($"p_partkey" % 499 === 7)
        .select($"p_partkey".as("k"))
        .withColumn("q1", bloomPos($"k", 0))
        .withColumn("q2", bloomPos($"k", 1))
      val admitted = probes.crossJoin(broadcast(blooms))
        .groupBy($"k").agg(count(when(bloomHit, lit(1))).as("admitted_files"))
      val actual = li.join(broadcast(probes.select($"k")),
          $"l_partkey" === $"k")
        .select($"k", $"file_id").distinct()
        .groupBy($"k").agg(count(lit(1)).as("actual_files"))
      admitted.join(broadcast(actual), Seq("k"), "left")
        .select($"k".as("partkey"), $"admitted_files",
          coalesce($"actual_files", lit(0L)).as("actual_files"),
          ($"admitted_files" - coalesce($"actual_files", lit(0L)))
            .as("false_pos"))
        .orderBy($"partkey")
    },
    Some(s"""
      WITH li AS (
        SELECT l_orderkey % 32 AS file_id, l_partkey FROM lineitem),
      pos AS (SELECT file_id, l_partkey,
          ${bloomPosSql("l_partkey", 0)} AS p1,
          ${bloomPosSql("l_partkey", 1)} AS p2
        FROM li),
      blooms AS (SELECT file_id,
          bit_or((CASE WHEN p1 // 60 = 0 THEN (CAST(1 AS BIGINT) << (p1 % 60)) ELSE 0 END) |
                 (CASE WHEN p2 // 60 = 0 THEN (CAST(1 AS BIGINT) << (p2 % 60)) ELSE 0 END)) AS w0,
          bit_or((CASE WHEN p1 // 60 = 1 THEN (CAST(1 AS BIGINT) << (p1 % 60)) ELSE 0 END) |
                 (CASE WHEN p2 // 60 = 1 THEN (CAST(1 AS BIGINT) << (p2 % 60)) ELSE 0 END)) AS w1,
          bit_or((CASE WHEN p1 // 60 = 2 THEN (CAST(1 AS BIGINT) << (p1 % 60)) ELSE 0 END) |
                 (CASE WHEN p2 // 60 = 2 THEN (CAST(1 AS BIGINT) << (p2 % 60)) ELSE 0 END)) AS w2,
          bit_or((CASE WHEN p1 // 60 = 3 THEN (CAST(1 AS BIGINT) << (p1 % 60)) ELSE 0 END) |
                 (CASE WHEN p2 // 60 = 3 THEN (CAST(1 AS BIGINT) << (p2 % 60)) ELSE 0 END)) AS w3
        FROM pos GROUP BY file_id),
      probes AS (SELECT p_partkey AS k,
          ${bloomPosSql("p_partkey", 0)} AS q1,
          ${bloomPosSql("p_partkey", 1)} AS q2
        FROM part WHERE p_partkey % 499 = 7),
      adm AS (SELECT k, CAST(COUNT(*) FILTER (WHERE
            ((CASE q1 // 60 WHEN 0 THEN w0 WHEN 1 THEN w1 WHEN 2 THEN w2 ELSE w3 END)
              & (CAST(1 AS BIGINT) << (q1 % 60))) <> 0
            AND ((CASE q2 // 60 WHEN 0 THEN w0 WHEN 1 THEN w1 WHEN 2 THEN w2 ELSE w3 END)
              & (CAST(1 AS BIGINT) << (q2 % 60))) <> 0) AS BIGINT) AS admitted_files
        FROM probes CROSS JOIN blooms GROUP BY k),
      act AS (SELECT k, CAST(COUNT(DISTINCT file_id) AS BIGINT) AS actual_files
        FROM probes JOIN li ON li.l_partkey = probes.k GROUP BY k)
      SELECT a.k AS partkey, a.admitted_files,
        COALESCE(ac.actual_files, CAST(0 AS BIGINT)) AS actual_files,
        a.admitted_files - COALESCE(ac.actual_files, 0) AS false_pos
      FROM adm a LEFT JOIN act ac ON ac.k = a.k ORDER BY partkey"""))

  /** p44 — funnel-stage analytics over the events stream: per user, the
    * first 'view', the first 'click' strictly after it, and the first
    * 'purchase' strictly after that — the classic product-funnel
    * (conversion) query. Emits one row per stage: converted-user count
    * and the exact sum/min/max of the stage-transition lag. ALL
    * arithmetic is integer epoch-µs (`unix_micros`), so the oracle
    * matches bit-for-bit (the nanos parquet is truncated to µs
    * identically by both engines — see Tables.load). Scale shape: three
    * event-type-pruned scans (predicate pushed to parquet), each
    * aggregated then joined ON user_id — every stage reuses the same
    * hash partitioning, so the chain is one user_id shuffle per stage
    * with co-partitioned joins in between, never a global sort. The
    * stage-2/3 aggregates run on the already-converted subset (shrinking
    * data), which is what keeps deep funnels cheap at 100 TB.
    */
  private val p44 = Q(
    "p44_funnel_stages",
    (s, d) => {
      import s.implicits._
      val ev = T(s, d, "events")
        .select($"user_id", $"event_type", unix_micros($"ts").as("us"))
      val v = ev.filter($"event_type" === "view")
        .groupBy($"user_id").agg(min($"us").as("v_us"))
      val c = ev.filter($"event_type" === "click")
        .join(v, "user_id").filter($"us" > $"v_us")
        .groupBy($"user_id", $"v_us").agg(min($"us").as("c_us"))
      val p = ev.filter($"event_type" === "purchase")
        .join(c, "user_id").filter($"us" > $"c_us")
        .groupBy($"user_id", $"c_us").agg(min($"us").as("p_us"))
      val s1 = v.agg(count(lit(1)).as("users"), lit(0L).as("sum_lag_us"),
          lit(0L).as("min_lag_us"), lit(0L).as("max_lag_us"))
        .select(lit(1).as("stage"), lit("view").as("name"), $"users",
          $"sum_lag_us", $"min_lag_us", $"max_lag_us")
      val s2 = c.agg(count(lit(1)).as("users"),
          sum($"c_us" - $"v_us").as("sum_lag_us"),
          min($"c_us" - $"v_us").as("min_lag_us"),
          max($"c_us" - $"v_us").as("max_lag_us"))
        .select(lit(2).as("stage"), lit("click").as("name"), $"users",
          $"sum_lag_us", $"min_lag_us", $"max_lag_us")
      val s3 = p.agg(count(lit(1)).as("users"),
          sum($"p_us" - $"c_us").as("sum_lag_us"),
          min($"p_us" - $"c_us").as("min_lag_us"),
          max($"p_us" - $"c_us").as("max_lag_us"))
        .select(lit(3).as("stage"), lit("purchase").as("name"), $"users",
          $"sum_lag_us", $"min_lag_us", $"max_lag_us")
      s1.unionAll(s2).unionAll(s3).orderBy($"stage")
    },
    Some("""
      WITH ev AS (
        SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
      v AS (SELECT user_id, MIN(us) AS v_us FROM ev
            WHERE event_type = 'view' GROUP BY user_id),
      c AS (SELECT e.user_id, v.v_us, MIN(e.us) AS c_us
            FROM ev e JOIN v ON e.user_id = v.user_id
            WHERE e.event_type = 'click' AND e.us > v.v_us
            GROUP BY e.user_id, v.v_us),
      c2 AS (SELECT user_id, v_us, c_us FROM c),
      p AS (SELECT e.user_id, c2.c_us, MIN(e.us) AS p_us
            FROM ev e JOIN c2 ON e.user_id = c2.user_id
            WHERE e.event_type = 'purchase' AND e.us > c2.c_us
            GROUP BY e.user_id, c2.c_us)
      SELECT 1 AS stage, 'view' AS name, CAST(COUNT(*) AS BIGINT) AS users,
        CAST(0 AS BIGINT) AS sum_lag_us, CAST(0 AS BIGINT) AS min_lag_us,
        CAST(0 AS BIGINT) AS max_lag_us FROM v
      UNION ALL
      SELECT 2, 'click', CAST(COUNT(*) AS BIGINT),
        CAST(SUM(c_us - v_us) AS BIGINT), CAST(MIN(c_us - v_us) AS BIGINT),
        CAST(MAX(c_us - v_us) AS BIGINT) FROM c
      UNION ALL
      SELECT 3, 'purchase', CAST(COUNT(*) AS BIGINT),
        CAST(SUM(p_us - c_us) AS BIGINT), CAST(MIN(p_us - c_us) AS BIGINT),
        CAST(MAX(p_us - c_us) AS BIGINT) FROM p
      ORDER BY stage"""))

  /** p45 — cohort retention: bucket users by first-seen week (cohort),
    * then count how many of each cohort are active 0, 1, 2… weeks later —
    * the standard retention triangle. Weeks are exact integer epoch-µs
    * floor-division (`us div 604800000000`), so cohort and offset are
    * bit-equal cross-engine. Scale shape: the first-seen aggregate and
    * the per-(user, week) distinct both shuffle on user_id — the join
    * between them is co-partitioned and AQE-local — and the final
    * aggregate shuffles the already-tiny (cohort, offset) pairs. The
    * week-grain distinct is what bounds state: one row per active
    * (user, week), not per event.
    */
  private val p45 = Q(
    "p45_cohort_retention",
    (s, d) => {
      import s.implicits._
      val ev = T(s, d, "events")
        .select($"user_id",
          expr("unix_micros(ts) div 604800000000").as("wk"))
      val first = ev.groupBy($"user_id").agg(min($"wk").as("cohort_wk"))
      val active = ev.distinct()
      active.join(first, "user_id")
        .groupBy($"cohort_wk", ($"wk" - $"cohort_wk").as("week_offset"))
        .agg(count(lit(1)).as("users"))
        .orderBy($"cohort_wk", $"week_offset")
    },
    Some("""
      WITH ev AS (
        SELECT user_id, epoch_us(ts) // 604800000000 AS wk FROM events),
      first AS (SELECT user_id, MIN(wk) AS cohort_wk FROM ev GROUP BY user_id),
      active AS (SELECT DISTINCT user_id, wk FROM ev)
      SELECT f.cohort_wk, a.wk - f.cohort_wk AS week_offset,
        CAST(COUNT(*) AS BIGINT) AS users
      FROM active a JOIN first f ON a.user_id = f.user_id
      GROUP BY f.cohort_wk, a.wk - f.cohort_wk
      ORDER BY cohort_wk, week_offset"""))

  /** p46 — last-touch attribution: each purchase is attributed to the
    * user's LATEST click strictly before it and within a 1-hour
    * lookback; purchases with none are organic. The deliberate shape is
    * ONE per-user window scan (`max(click-us) OVER (... RANGE BETWEEN
    * UNBOUNDED PRECEDING AND 1 PRECEDING)`) instead of the naive
    * purchases⋈clicks range join — the join explodes with per-user
    * activity (every purchase × every prior click), the window carries
    * O(1) running state per user and shuffles events exactly once. The
    * RANGE frame keys strictness on the µs VALUE, so same-µs ties
    * resolve identically in both engines regardless of row order.
    * All-integer epoch-µs; organic rows report zero lags (mirrored in
    * the oracle).
    */
  private val p46 = Q(
    "p46_attribution",
    (s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"us")
        .rangeBetween(Window.unboundedPreceding, -1)
      T(s, d, "events")
        .select($"user_id", $"event_type", unix_micros($"ts").as("us"))
        .withColumn("last_click",
          max(when($"event_type" === "click", $"us")).over(w))
        .filter($"event_type" === "purchase")
        .withColumn("attributed",
          $"last_click".isNotNull && $"last_click" >= $"us" - 3600000000L)
        .withColumn("lag_us",
          when($"attributed", $"us" - $"last_click").otherwise(lit(0L)))
        .groupBy(when($"attributed", "attributed").otherwise("organic")
          .as("status"))
        .agg(count(lit(1)).as("n_purchases"),
          sum($"lag_us").as("sum_lag_us"),
          min($"lag_us").as("min_lag_us"),
          max($"lag_us").as("max_lag_us"))
        .orderBy($"status")
    },
    Some("""
      WITH ev AS (
        SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
      scanned AS (
        SELECT user_id, event_type, us,
          MAX(CASE WHEN event_type = 'click' THEN us END) OVER (
            PARTITION BY user_id ORDER BY us
            RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_click
        FROM ev),
      purchases AS (
        SELECT us, last_click,
          (last_click IS NOT NULL AND last_click >= us - 3600000000)
            AS attributed
        FROM scanned WHERE event_type = 'purchase'),
      lagged AS (
        SELECT CASE WHEN attributed THEN 'attributed' ELSE 'organic' END
            AS status,
          CASE WHEN attributed THEN us - last_click ELSE 0 END AS lag_us
        FROM purchases)
      SELECT status, CAST(COUNT(*) AS BIGINT) AS n_purchases,
        CAST(SUM(lag_us) AS BIGINT) AS sum_lag_us,
        CAST(MIN(lag_us) AS BIGINT) AS min_lag_us,
        CAST(MAX(lag_us) AS BIGINT) AS max_lag_us
      FROM lagged GROUP BY status ORDER BY status"""))

  /** p47 — CDC / upsert apply (merge-on-read compaction): the events
    * stream read as a changelog over user keys — 'error' maps to
    * DELETE, everything else to UPSERT — applied last-writer-wins with
    * a total order (us, event_id). The shape is ONE window scan
    * (row_number over the per-key changelog, keep rank 1, drop
    * deletes) — how a lakehouse table compacts a deletion-capable
    * changelog without a join against the base snapshot. Output: per
    * final-op-type survivor counts plus the exact DECIMAL sum of the
    * surviving values (per-row cast BEFORE the sum, the repo-wide
    * order-independence rule). Scale shape: one shuffle on the key;
    * the window carries O(1) running state per key (rank-1 short
    * circuit), and deletes never leave the scan.
    */
  private val p47 = Q(
    "p47_cdc_apply",
    (s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"k")
        .orderBy($"us".desc, $"event_id".desc)
      T(s, d, "events")
        .select($"user_id".as("k"), unix_micros($"ts").as("us"),
          $"event_id", $"event_type", dec($"value", 18, 6).as("v"))
        .withColumn("rn", row_number().over(w))
        .filter($"rn" === 1 && $"event_type" =!= "error")
        .groupBy($"event_type")
        .agg(count(lit(1)).as("survivors"),
          dec(sum($"v"), 38, 6).as("sum_value"),
          min($"k").as("min_key"), max($"k").as("max_key"))
        .orderBy($"event_type")
    },
    Some("""
      WITH log AS (
        SELECT user_id AS k, epoch_us(ts) AS us, event_id, event_type,
          CAST(value AS DECIMAL(18,6)) AS v,
          ROW_NUMBER() OVER (PARTITION BY user_id
            ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        FROM events)
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS survivors,
        CAST(SUM(v) AS DECIMAL(38,6)) AS sum_value,
        MIN(k) AS min_key, MAX(k) AS max_key
      FROM log WHERE rn = 1 AND event_type <> 'error'
      GROUP BY event_type ORDER BY event_type"""))

  /** p48 — rolling 7-day active users (the WAU engagement series),
    * EXACT: distinct counts cannot be summed across days, so each
    * active (user, day) pair is exploded into the 7 window-end days it
    * contributes to (`sequence(day, day+6)`) and the count is distinct
    * per window-end day — the standard bounded-expansion trick for
    * exact sliding distincts. Scale shape: the day-grain distinct
    * FIRST collapses events to active-pairs (one row per user-day, not
    * per event), the explode is a fixed ×7, and both distincts shuffle
    * on compact integer keys. The sketch alternative at extreme scale
    * is a mergeable HLL per day (p14); this is the exact form. Days
    * with no preceding activity window are ghost tails — the semi join
    * against real active days drops them, so the series covers exactly
    * the observed days.
    */
  private val p48 = Q(
    "p48_rolling_wau",
    (s, d) => {
      import s.implicits._
      val days = T(s, d, "events")
        .select($"user_id", expr("unix_micros(ts) div 86400000000").as("day"))
        .distinct()
      val real = days.select($"day").distinct()
      days.select($"user_id", explode(expr("sequence(day, day + 6)")).as("wday"))
        .distinct()
        .join(real.withColumnRenamed("day", "wday"), Seq("wday"), "semi")
        .groupBy($"wday")
        .agg(count(lit(1)).as("wau"))
        .orderBy($"wday")
    },
    Some("""
      WITH days AS (
        SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
        FROM events),
      real AS (SELECT DISTINCT day FROM days),
      contrib AS (
        SELECT DISTINCT d.user_id, d.day + g.o AS wday
        FROM days d CROSS JOIN (SELECT UNNEST(range(7)) AS o) g)
      SELECT c.wday, CAST(COUNT(*) AS BIGINT) AS wau
      FROM contrib c SEMI JOIN real r ON r.day = c.wday
      GROUP BY c.wday ORDER BY c.wday"""))

  /** One PQ subspace distance in DuckDB: sequential double fold over the
    * 1-based slice [1+sub·m, 1+sub·(m+1)) — the same left-to-right
    * accumulation SubvectorL2 compiles, so values are bit-identical. */
  private def subL2Duck(a: String, b: String, m: Int, sub: Int = 16): String =
    s"""list_sum(list_transform(range(${1 + sub * m}, ${1 + sub * (m + 1)}),
          i -> (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE)) * (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE))))"""

  /** p49 — ANN via product quantization (PQ): the third leg of the ANN
    * family after p12 (random-hyperplane LSH) and p18 (IVF cells), and
    * the one that changes the STORAGE cost, not just the probe count.
    * The 64-dim vector splits into M=4 subspaces of 16 dims; each
    * subspace is coded as its nearest of K=8 sub-centroids (training-free
    * codebook: the sub-slices of vec_id 1..8, p18's stand-in pattern, so
    * the oracle stays exact); a vector becomes 4 small ints — 256 bytes
    * of floats → 4 codes, the 64× compression that lets a 100 TB corpus'
    * index fit in cluster RAM. Queries never touch the original vectors:
    * an 8×4 lookup table of query-to-centroid subspace distances is
    * broadcast and the approximate (asymmetric) distance is 4 LUT adds
    * per candidate — the ADC scan.
    *
    * Plan shape: encode = one crossJoin against the broadcast 8-row
    * codebook with 4 codegen'd SubvectorL2 kernels per pair, reduced by
    * a partial-aggregatable min(struct(dist, cid)) per subspace — 8 rows
    * per vector collapse map-side, so the only shuffle carries one row
    * per vector. The ADC phase joins the codes to the broadcast LUT four
    * times and adds in fixed left-to-right order (cross-engine IEEE
    * determinism), then TakeOrdered. Ties code to the smaller cid via
    * lexicographic struct min in BOTH engines.
    */
  private val p49 = Q(
    "p49_ann_pq",
    (s, d) => {
      import s.implicits._
      val sub = 16
      val emb = T(s, d, "embeddings")
      val cents = emb.filter($"vec_id".between(1, 8))
        .select($"vec_id".cast(IntegerType).as("cid"), $"embedding".as("cvec"))
      val pairs = emb.crossJoin(broadcast(cents)).select(
        Seq($"vec_id", $"label", $"cid") ++ (0 until 4).map(m =>
          VectorFunctions.subvector_l2($"embedding", $"cvec", m * sub, sub)
            .as(s"d$m")): _*)
      val codes = pairs.groupBy($"vec_id")
        .agg(min($"label").as("label"),
          min(struct($"d0", $"cid")).as("a0"),
          min(struct($"d1", $"cid")).as("a1"),
          min(struct($"d2", $"cid")).as("a2"),
          min(struct($"d3", $"cid")).as("a3"))
        .select($"vec_id", $"label",
          $"a0.cid".as("code0"), $"a1.cid".as("code1"),
          $"a2.cid".as("code2"), $"a3.cid".as("code3"))
      val q = emb.filter($"vec_id" === 0).select($"embedding".as("qvec"))
      val qlut = cents.crossJoin(broadcast(q)).select(
        Seq($"cid") ++ (0 until 4).map(m =>
          VectorFunctions.subvector_l2($"qvec", $"cvec", m * sub, sub)
            .as(s"qd$m")): _*)
      def lut(m: Int) =
        broadcast(qlut.select($"cid".as(s"c$m"), col(s"qd$m")))
      codes
        .join(lut(0), $"code0" === $"c0")
        .join(lut(1), $"code1" === $"c1")
        .join(lut(2), $"code2" === $"c2")
        .join(lut(3), $"code3" === $"c3")
        .filter($"vec_id" =!= 0)
        .select($"vec_id", $"label", $"code0", $"code1", $"code2", $"code3",
          dec($"qd0" + $"qd1" + $"qd2" + $"qd3", 18, 6).as("adc_dist"))
        .orderBy($"adc_dist", $"vec_id")
        .limit(10)
    },
    Some(s"""
      WITH c AS (SELECT CAST(vec_id AS INT) AS cid, embedding AS cvec
                 FROM embeddings WHERE vec_id BETWEEN 1 AND 8),
      d AS (SELECT e.vec_id, e.label, c.cid,
              ${subL2Duck("e.embedding", "c.cvec", 0)} AS d0,
              ${subL2Duck("e.embedding", "c.cvec", 1)} AS d1,
              ${subL2Duck("e.embedding", "c.cvec", 2)} AS d2,
              ${subL2Duck("e.embedding", "c.cvec", 3)} AS d3
            FROM embeddings e CROSS JOIN c),
      r AS (SELECT *,
              row_number() OVER (PARTITION BY vec_id ORDER BY d0, cid) AS r0,
              row_number() OVER (PARTITION BY vec_id ORDER BY d1, cid) AS r1,
              row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS r2,
              row_number() OVER (PARTITION BY vec_id ORDER BY d3, cid) AS r3
            FROM d),
      codes AS (SELECT vec_id, MIN(label) AS label,
              MAX(CASE WHEN r0 = 1 THEN cid END) AS code0,
              MAX(CASE WHEN r1 = 1 THEN cid END) AS code1,
              MAX(CASE WHEN r2 = 1 THEN cid END) AS code2,
              MAX(CASE WHEN r3 = 1 THEN cid END) AS code3
            FROM r GROUP BY vec_id),
      q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
      qlut AS (SELECT c.cid,
              ${subL2Duck("q.qvec", "c.cvec", 0)} AS qd0,
              ${subL2Duck("q.qvec", "c.cvec", 1)} AS qd1,
              ${subL2Duck("q.qvec", "c.cvec", 2)} AS qd2,
              ${subL2Duck("q.qvec", "c.cvec", 3)} AS qd3
            FROM c, q)
      SELECT v.vec_id, v.label, v.code0, v.code1, v.code2, v.code3,
        CAST(l0.qd0 + l1.qd1 + l2.qd2 + l3.qd3 AS DECIMAL(18,6)) AS adc_dist
      FROM codes v
        JOIN qlut l0 ON v.code0 = l0.cid
        JOIN qlut l1 ON v.code1 = l1.cid
        JOIN qlut l2 ON v.code2 = l2.cid
        JOIN qlut l3 ON v.code3 = l3.cid
      WHERE v.vec_id <> 0
      ORDER BY adc_dist, vec_id LIMIT 10"""))

  /** p50 — incremental aggregate maintenance: keep a pre-aggregated
    * table current under a changelog of inserts AND retractions without
    * rescanning the base data — materialized-view delta maintenance,
    * p47's aggregate-level sibling (p47 compacts a changelog of rows;
    * this folds one into standing aggregates). Counts and DECIMAL sums
    * are abelian under signed multiplicity, so the maintenance algebra
    * is: aggregate ONLY the changelog with sign ∈ {+1, −1}, union the
    * signed partials with the state rows, and re-aggregate — the
    * classic mergeable partial-aggregate topology, no join at all.
    *
    * Here the state is derived in-plan from the pre-cutoff partition
    * (there is no persisted table between driver runs) so the oracle
    * can recompute the same answer flat from scratch — the differential
    * gate then checks the MAINTENANCE ALGEBRA itself: state ⊕ delta
    * must equal full recompute over (base − retracted + inserted).
    *
    * 100 TB shape: the state input is the stored aggregate table (one
    * row per group — already tiny), the delta aggregate shuffles only
    * the changelog, and the merge shuffles state-rows + delta-rows on
    * the group key. The base fact table is never rescanned, which is
    * the entire point at scale. MergeSpec proves the algebra is
    * associative: applying the changelog in any split of batches gives
    * the identical table.
    */
  /** The standing aggregate (pre-cutoff partition, one row per group)
    * and the signed changelog: post-cutoff inserts (+1) plus synthetic
    * retractions (−1) of every 97th pre-cutoff order (a correction /
    * erasure stand-in). Both carry raw order rows; aggregation shape is
    * shared below. */
  private[graft] def incAggParts(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    import s.implicits._
    val orders = T(s, d, "orders")
    val cutoff = lit("1997-01-01").cast(TimestampType)
    val state = signedDeltaAgg(
      orders.filter($"o_orderdate" < cutoff)
        .select($"o_custkey", $"o_orderpriority", $"o_totalprice",
          lit(1L).as("sign")))
    val changelog = orders.filter($"o_orderdate" >= cutoff)
      .select($"o_custkey", $"o_orderpriority", $"o_totalprice",
        lit(1L).as("sign"))
      .unionAll(orders
        .filter($"o_orderdate" < cutoff && $"o_orderkey" % 97 === 0)
        .select($"o_custkey", $"o_orderpriority", $"o_totalprice",
          lit(-1L).as("sign")))
    (state, changelog)
  }

  /** Signed-multiplicity aggregation of raw changelog rows into the
    * state schema (cust_bucket, priority, cnt, tot). */
  private[graft] def signedDeltaAgg(log: DataFrame): DataFrame = {
    import log.sparkSession.implicits._
    log.groupBy(($"o_custkey" % 50).as("cust_bucket"),
        $"o_orderpriority".as("priority"))
      .agg(sum($"sign").as("cnt"),
        sum($"sign" * dec($"o_totalprice", 18, 2))
          .cast(DecimalType(38, 2)).as("tot"))
  }

  /** Merge two partial-aggregate tables: union + re-aggregate. Closed
    * under the state schema, associative and commutative (counts and
    * DECIMAL sums are abelian), so changelog batches may be applied in
    * any grouping — MergeSpec proves it. Zero-count groups are KEPT:
    * a net-zero count can carry a non-zero sum (an insert and a
    * retraction of different-priced rows), so dropping them mid-stream
    * would corrupt later merges; presentation filters cnt > 0 at the
    * end. */
  private[graft] def mergeAggState(a: DataFrame, b: DataFrame): DataFrame = {
    import a.sparkSession.implicits._
    a.unionByName(b)
      .groupBy($"cust_bucket", $"priority")
      .agg(sum($"cnt").as("cnt"),
        // The cast is a no-op today (sum over DECIMAL(38,2) is already
        // (38,2)) but pins the state-schema contract explicitly: merge
        // output must be unionByName-able with state rows forever, even
        // if Spark's sum-of-decimal result type ever changes.
        sum($"tot").cast(DecimalType(38, 2)).as("tot"))
  }

  private val p50 = Q(
    "p50_incremental_agg",
    (s, d) => {
      import s.implicits._
      val (state, changelog) = incAggParts(s, d)
      mergeAggState(state, signedDeltaAgg(changelog))
        .filter($"cnt" > 0)
        .select($"cust_bucket", $"priority", $"cnt".as("n_orders"),
          $"tot".as("total"))
        .orderBy($"cust_bucket", $"priority")
    },
    Some("""
      WITH eff AS (
        SELECT * FROM orders
        WHERE o_orderdate < TIMESTAMP '1997-01-01' AND o_orderkey % 97 <> 0
        UNION ALL
        SELECT * FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01')
      SELECT o_custkey % 50 AS cust_bucket, o_orderpriority AS priority,
        CAST(COUNT(*) AS BIGINT) AS n_orders,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS total
      FROM eff GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** p51 — BM25 ranked retrieval over the corpus: the scoring sibling of
    * p34's boolean search (match/no-match → relevance order). Classic
    * Okapi shape — per-term tf saturation (k1 = 1.2) and document-length
    * normalization (b = 0.75) against the corpus average — with one
    * deliberate substitution: the idf factor is the RATIONAL core
    * (N − df + 0.5)/(df + 0.5) WITHOUT the log wrap. ln() is the one
    * operation in the formula with no cross-engine bit guarantee (libm vs
    * JVM intrinsics are each <1 ulp but not identical); every remaining
    * op is IEEE-754 +,−,×,÷ which both engines round identically, so the
    * score is bit-equal and hash-gateable. The rational idf is a strictly
    * monotone transform of the classic one, so per-term orderings agree.
    *
    * Float-sum determinism: per-doc scores are NOT a shuffled SUM over
    * terms (partial-agg order would be nondeterministic); each term's
    * contribution lands in its own pivot column (max over exactly one
    * row) and the score is one fixed left-to-right add chain, identical
    * in both engines.
    *
    * 100 TB shape: the only corpus-sized shuffles carry (doc, term) rows
    * bounded by |docs|×|query terms| — the tokenizer explode is filtered
    * to the query vocabulary BEFORE any shuffle; df (|terms| rows) and
    * the corpus stats (1 row) broadcast; the final top-k is a
    * TakeOrdered, no global sort materialization.
    */
  private val p51 = Q(
    "p51_bm25_rank",
    (s, d) => {
      import s.implicits._
      val terms = Seq("spark", "join", "window", "hash")
      val docs = T(s, d, "documents")
      val dl = docs.select($"doc_id",
        size(split($"text", " ")).cast(LongType).as("dl"))
      val st = dl.agg(count(lit(1)).as("n"), sum($"dl").as("tot"))
      val tf = docs.select($"doc_id", explode(split($"text", " ")).as("w"))
        .filter($"w".isin(terms: _*))
        .groupBy($"doc_id", $"w").agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy($"w").agg(countDistinct($"doc_id").as("dft"))
      val avgdl = $"tot".cast(DoubleType) / $"n"
      val contrib = (($"n" - $"dft" + lit(0.5)) / ($"dft" + lit(0.5))) *
        (($"tf" * lit(2.2)) /
          ($"tf" + lit(1.2) * (lit(0.25) + lit(0.75) * ($"dl" / avgdl))))
      val scored = tf.join(broadcast(dfreq), "w")
        .join(dl, "doc_id")
        .crossJoin(broadcast(st))
        .select($"doc_id", $"w", contrib.as("contrib"))
      def term(t: String): Column =
        coalesce(max(when($"w" === t, $"contrib")), lit(0.0))
      // Final DECIMAL(38,10) snap (house float rule, Catalog.scala): the
      // formula's ×/+ chains invite FMA contraction in DuckDB's compiled
      // kernels (observed: 1–2 ulp drift vs the JVM), so raw doubles
      // aren't hash-stable; at 1e-10 granularity the drift vanishes and
      // distinct scores stay separated by far more than the snap.
      scored.groupBy($"doc_id")
        .agg(count(lit(1)).as("n_hits"),
          dec(term("spark") + term("join") + term("window") + term("hash"),
            38, 10).as("score"))
        .orderBy($"score".desc, $"doc_id")
        .limit(20)
    },
    Some("""
      WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
      dlt AS (
        SELECT doc_id, CAST(length(string_split(text, ' ')) AS BIGINT) AS dl
        FROM documents),
      st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(dl) AS BIGINT) AS tot
             FROM dlt),
      tf AS (SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS tf FROM toks
             WHERE w IN ('spark', 'join', 'window', 'hash') GROUP BY 1, 2),
      dfreq AS (SELECT w, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS dft
                FROM tf GROUP BY 1),
      c AS (
        SELECT tf.doc_id, tf.w,
          ((n - dft + 0.5) / (dft + 0.5)) *
          ((tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * (dl / (CAST(tot AS DOUBLE) / n)))))
            AS contrib
        FROM tf JOIN dfreq USING (w) JOIN dlt USING (doc_id) CROSS JOIN st)
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits,
        CAST(COALESCE(MAX(CASE WHEN w = 'spark' THEN contrib END), 0.0)
        + COALESCE(MAX(CASE WHEN w = 'join' THEN contrib END), 0.0)
        + COALESCE(MAX(CASE WHEN w = 'window' THEN contrib END), 0.0)
        + COALESCE(MAX(CASE WHEN w = 'hash' THEN contrib END), 0.0)
          AS DECIMAL(38,10)) AS score
      FROM c GROUP BY doc_id
      ORDER BY score DESC, doc_id LIMIT 20"""))

  /** p52 — triangle counting over the co-purchase graph: parts that
    * co-occur in ≥ 2 orders form an edge (the market-basket SUPPORT
    * threshold — without it the co-occurrence graph is 5%+ dense and
    * triangle counting is quadratic noise; with it, edges are the pairs
    * with repeated evidence, the graph analysts actually mine). Count =
    * closed wedges under DEGREE-ORDERED orientation (Ortmann/Brandes,
    * a.k.a. the compact-forward algorithm): orient every edge from the
    * (degree, node)-smaller endpoint to the larger, enumerate wedges only
    * at their lowest-ordered apex, and close each wedge with ONE
    * equi-join against the oriented edge list — each triangle is found
    * exactly once, no OR-joins, no direction explosion. The orientation
    * key packs (degree, node) as `deg×10⁹ + node` (node ids stay far
    * below 10⁹ at every TESTDATA sf), so both engines compare one BIGINT.
    *
    * 100 TB shape: wedge fan-out at a node is bounded by its
    * OUT-degree under degree ordering — O(√m) for any graph, far below
    * the raw degree of hub nodes — so the wedge join is the canonical
    * scalable topology (this is exactly why the orientation exists; an
    * unoriented wedge join explodes on hubs). Everything is equi-joins on
    * node keys: shuffle-partitioned, AQE-splittable, no driver state.
    * Output: global triangle total (node = −1) + top-10 nodes by
    * triangle participation.
    *
    * Oracle note: the DuckDB twin pins `AS MATERIALIZED` on the reused
    * CTEs — DuckDB re-inlines multiply-referenced CTEs by default, and
    * its planner's join order for the re-expanded wedge chain spilled
    * >80 GB at sf1 (8 s materialized; the true wedge count is only a few
    * hundred). Spark's side needs no hint: the plan references each
    * exchange once per consumer and AQE reuses them.
    */
  private val p52 = Q(
    "p52_triangle_count",
    (s, d) => {
      import s.implicits._
      // Pair generation WITHOUT a fact self-join: collect the distinct
      // part set per order (ONE shuffle on l_orderkey, set-merge partial
      // aggregation map-side) and expand C(n,2) ordered pairs from the
      // sorted array with two chained codegen'd generators. The
      // fact-side alternative — distinct + self-join on orderkey — costs
      // three fact shuffles (distinct key, then both join sides); this
      // form reaches the pair aggregate with one. The expansion is
      // posexplode(pks) → explode(slice(pks, i + 2, …)): both generators
      // and slice are WSCG-capable, unlike the transform/struct
      // higher-order form this replaced, which ran interpreted per row
      // (measured 12.6 → 4.8 s for the 12M-pair expansion at sf1).
      // slice past the end yields an empty array, so last elements (and
      // single-part orders) drop out of explode with no filter. Pair
      // blowup is bounded by basket size, a business constant, not a
      // data-scale variable.
      val byOrd = T(s, d, "lineitem")
        .groupBy($"l_orderkey")
        .agg(sort_array(collect_set($"l_partkey")).as("pks"))
      val pairs = byOrd
        .select(posexplode($"pks").as(Seq("i", "u")), $"pks")
        .select($"u", explode(expr("slice(pks, i + 2, size(pks))")).as("v"))
      // pin: the edge list feeds five consumers (two degree scans, the
      // key join, both wedge sides via oe, the closing join); unpinned,
      // each re-executes the pair expansion + support aggregate. On a
      // cluster the durable form is a checkpoint/table of the (small)
      // thresholded edge list.
      val e = pin(pairs
        .groupBy($"u", $"v").agg(count(lit(1)).as("cw"))
        .filter($"cw" >= 2).select($"u", $"v"))
      val deg = e.select($"u".as("n")).unionAll(e.select($"v".as("n")))
        .groupBy($"n").agg(count(lit(1)).as("dg"))
      val ked = e.join(deg.select($"n".as("u"), $"dg".as("du")), "u")
        .join(deg.select($"n".as("v"), $"dg".as("dv")), "v")
        .withColumn("ku", $"du" * lit(1000000000L) + $"u")
        .withColumn("kv", $"dv" * lit(1000000000L) + $"v")
      val oe = ked.select(
        when($"ku" < $"kv", $"u").otherwise($"v").as("s"),
        when($"ku" < $"kv", $"v").otherwise($"u").as("t"),
        greatest($"ku", $"kv").as("kt"))
      val wdg = oe.select($"s", $"t".as("a"), $"kt".as("ka"))
        .join(oe.select($"s", $"t".as("b"), $"kt".as("kb")), "s")
        .filter($"ka" < $"kb").select($"s", $"a", $"b")
      // The wedge's endpoints (a, b) are in orientation order (ka < kb),
      // so the closing edge — if present — is oriented exactly a→b.
      val tris = wdg.join(oe.select($"s".as("a"), $"t".as("b")), Seq("a", "b"))
      val nodes = tris.select($"s".as("node"))
        .unionAll(tris.select($"a".as("node")))
        .unionAll(tris.select($"b".as("node")))
      val perNode = nodes.groupBy($"node").agg(count(lit(1)).as("tri"))
        .orderBy($"tri".desc, $"node").limit(10)
      val total = tris.agg(count(lit(1)).as("tri"))
        .select(lit(-1L).as("node"), $"tri")
      total.unionAll(perNode)
        .orderBy(when($"node" === -1L, lit(0)).otherwise(lit(1)),
          $"tri".desc, $"node")
    },
    Some("""
      WITH it AS MATERIALIZED (
        SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      e AS MATERIALIZED (
        SELECT a.pk AS u, b.pk AS v FROM it a JOIN it b ON a.ok = b.ok
            WHERE a.pk < b.pk GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      deg AS (SELECT n, CAST(COUNT(*) AS BIGINT) AS dg FROM
                (SELECT u AS n FROM e UNION ALL SELECT v FROM e)
              GROUP BY n),
      ked AS (SELECT e.u, e.v,
                du.dg * 1000000000 + e.u AS ku,
                dv.dg * 1000000000 + e.v AS kv
              FROM e JOIN deg du ON du.n = e.u JOIN deg dv ON dv.n = e.v),
      oe AS MATERIALIZED (SELECT CASE WHEN ku < kv THEN u ELSE v END AS s,
                    CASE WHEN ku < kv THEN v ELSE u END AS t,
                    GREATEST(ku, kv) AS kt FROM ked),
      wdg AS (SELECT x.s, x.t AS a, y.t AS b
              FROM oe x JOIN oe y ON x.s = y.s AND x.kt < y.kt),
      tris AS MATERIALIZED (SELECT w.s, w.a, w.b
               FROM wdg w JOIN oe c ON c.s = w.a AND c.t = w.b),
      pernode AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS tri FROM (
            SELECT s AS node FROM tris
            UNION ALL SELECT a FROM tris
            UNION ALL SELECT b FROM tris)
          GROUP BY node ORDER BY tri DESC, node LIMIT 10),
      tot AS (SELECT CAST(-1 AS BIGINT) AS node,
                     CAST(COUNT(*) AS BIGINT) AS tri FROM tris)
      SELECT node, tri FROM (
        SELECT node, tri FROM tot UNION ALL SELECT node, tri FROM pernode)
      ORDER BY CASE WHEN node = -1 THEN 0 ELSE 1 END, tri DESC, node"""))

  /** p53 — probability-proportional-to-size (PPS) Poisson sampling: each
    * document is included with probability min(1, k·wᵢ/W) where wᵢ =
    * n_chars and W = Σw — the sampling design behind importance-weighted
    * corpus subsetting (longer docs carry more training signal; uniform
    * doc sampling under-weights them). The inclusion test is EXACT
    * integer cross-multiplication — `h·W < k·w·2²⁸` with h a 28-bit
    * md5-derived uniform — so there is no fp pow/log anywhere (the
    * textbook A-Res key u^(1/w) needs pow, the one op with no
    * cross-engine bit guarantee), and the same doc is selected by every
    * engine, run, and partitioning. Overflow headroom: h < 2²⁸ and W at
    * 100 TB (~10¹⁴ chars) keeps h·W < 2⁶³ only if W < 2³⁵ — at true
    * 100 TB scale the comparison simply moves to DECIMAL(38,0) products
    * (same exactness); the TESTDATA range is covered by BIGINT with two
    * decades of slack.
    *
    * 100 TB shape: zero corpus shuffle — the inclusion test is a narrow
    * codegen'd map against one broadcast scalar (W); the only exchange is
    * the per-source rollup (20 groups). Contrast with p22 (equal-rate
    * stratified) and p29 (temperature-reweighted quotas): this is the
    * weighted-row third of the sampling family.
    */
  private val p53 = Q(
    "p53_weighted_sample",
    (s, d) => {
      import s.implicits._
      val docs = T(s, d, "documents").select($"doc_id", $"source", $"n_chars")
      val tot = docs.agg(sum($"n_chars").as("w_total"))
      val sel = docs.crossJoin(broadcast(tot))
        .withColumn("h28", conv(substring(
          md5(concat($"doc_id".cast(StringType), lit("_ws"))), 1, 7),
          16, 10).cast(LongType))
        .withColumn("picked",
          $"h28" * $"w_total" < lit(100L) * $"n_chars" * lit(1L << 28))
      sel.groupBy($"source").agg(
          count(lit(1)).as("docs"),
          count(when($"picked", 1)).as("selected"),
          coalesce(sum(when($"picked", $"n_chars")), lit(0L)).as("sel_chars"))
        .orderBy($"source")
    },
    Some("""
      WITH t AS (SELECT SUM(n_chars) AS w_total FROM documents),
      sel AS (SELECT source, n_chars,
          (('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '_ws'), 1, 7))::BIGINT
             * w_total < 100 * n_chars * 268435456) AS picked
        FROM documents CROSS JOIN t)
      SELECT source, CAST(COUNT(*) AS BIGINT) AS docs,
        CAST(COUNT(*) FILTER (WHERE picked) AS BIGINT) AS selected,
        CAST(COALESCE(SUM(n_chars) FILTER (WHERE picked), 0) AS BIGINT)
          AS sel_chars
      FROM sel GROUP BY source ORDER BY source"""))

  /** p54 — sessionized path analysis (clickstream transition matrix): the
    * event stream is cut into sessions at 30-minute inactivity gaps
    * (w03's session-window rule, batch form), then every within-session
    * transition event→next-event is counted, with virtual `_START_` /
    * `_END_` states closing the chain — the first-order Markov model of
    * user navigation, the standard input to drop-off and next-action
    * analyses (p44's funnel is the special case of one fixed path).
    * Ordering inside a session is the total order (ts µs, event_id), so
    * lag/lead agree bit-for-bit across engines even on same-µs ties.
    *
    * 100 TB shape: ONE shuffle on user_id, then three window scans over
    * the same partitioning (gap flag → running session id → lead) that
    * Spark executes as a single sort + three passes with no further
    * exchange; the output is |event types|² + 2·|types| rows — constant.
    * No range join, no per-session explode.
    */
  private val p54 = Q(
    "p54_session_paths",
    (s, d) => {
      import s.implicits._
      val ev = T(s, d, "events")
        .select($"user_id", $"event_id", $"event_type",
          unix_micros($"ts").as("us"))
      val byUser = Window.partitionBy($"user_id").orderBy($"us", $"event_id")
      val flagged = ev
        .withColumn("prev_us", lag($"us", 1).over(byUser))
        .withColumn("new_sess",
          ($"prev_us".isNull || $"us" - $"prev_us" > lit(1800000000L))
            .cast(IntegerType))
      val sess = flagged.withColumn("sess_id", sum($"new_sess").over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val bySess = Window.partitionBy($"user_id", $"sess_id")
        .orderBy($"us", $"event_id")
      val tr = sess.withColumn("next_type", lead($"event_type", 1).over(bySess))
      val starts = tr.filter($"new_sess" === 1)
        .select(lit("_START_").as("src"), $"event_type".as("dst"))
      val inner = tr.select($"event_type".as("src"),
        coalesce($"next_type", lit("_END_")).as("dst"))
      starts.unionAll(inner)
        .groupBy($"src", $"dst").agg(count(lit(1)).as("n"))
        .orderBy($"src", $"dst")
    },
    Some("""
      WITH ev AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us
                  FROM events),
      f AS (SELECT *, CASE WHEN lag(us) OVER w IS NULL
                             OR us - lag(us) OVER w > 1800000000
                           THEN 1 ELSE 0 END AS new_sess
            FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
      se AS (SELECT *, SUM(new_sess) OVER (PARTITION BY user_id
               ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS sess_id
             FROM f),
      tr AS (SELECT *, lead(event_type) OVER (PARTITION BY user_id, sess_id
               ORDER BY us, event_id) AS next_type FROM se),
      pairs AS (
        SELECT '_START_' AS src, event_type AS dst FROM tr WHERE new_sess = 1
        UNION ALL
        SELECT event_type, COALESCE(next_type, '_END_') FROM tr)
      SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS n
      FROM pairs GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** p55 — trailing-baseline anomaly detection over the event stream:
    * per (event_type, day) counts, compared against the mean of the up to
    * 7 preceding OBSERVED days (ROWS frame — calendar gaps shrink the
    * baseline rather than zero-fill it), flagged `hot` when the day runs
    * ≥ 1.3× its trailing mean with at least 3 days of history. The
    * threshold test is integer cross-multiplication
    * (cnt·days·10 > sum·13) — no division, no fp, no rounding tie to
    * disagree on; the monitoring-pipeline staple (traffic spikes, abuse
    * bursts, pipeline stalls) in its exactly-reproducible form.
    *
    * 100 TB shape: the raw scan collapses to |types|×|days| rows in ONE
    * partial-aggregated shuffle (map-side combine does the heavy
    * lifting); the window scan runs over that tiny frame. Day boundary is
    * integer epoch-µs floor-division — same value in both engines.
    */
  private val p55 = Q(
    "p55_daily_anomaly",
    (s, d) => {
      import s.implicits._
      val daily = T(s, d, "events")
        .select($"event_type", unix_micros($"ts").as("us"))
        .groupBy($"event_type", expr("us div 86400000000").as("day"))
        .agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy($"event_type").orderBy($"day")
        .rowsBetween(-7, -1)
      daily
        .withColumn("trail_sum", coalesce(sum($"cnt").over(w), lit(0L)))
        .withColumn("trail_days", count($"cnt").over(w))
        .withColumn("hot", $"trail_days" >= 3 &&
          $"cnt" * $"trail_days" * lit(10L) > $"trail_sum" * lit(13L))
        .orderBy($"event_type", $"day")
    },
    Some("""
      WITH daily AS (
        SELECT event_type, epoch_us(ts) // 86400000000 AS day,
          CAST(COUNT(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1, 2)
      SELECT event_type, day, cnt,
        CAST(COALESCE(SUM(cnt) OVER w, 0) AS BIGINT) AS trail_sum,
        CAST(COUNT(cnt) OVER w AS BIGINT) AS trail_days,
        (COUNT(cnt) OVER w >= 3 AND
         cnt * COUNT(cnt) OVER w * 10 > COALESCE(SUM(cnt) OVER w, 0) * 13)
          AS hot
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
      ORDER BY event_type, day"""))

  /** Bloom positions for the p56 runtime filter: k=2 independent 60-bit
    * halves of ONE md5 per key (the p43 scheme, '_rf' salt, m = 960 bits
    * as 16×60-bit words — sized an order above p43's 240 so the build
    * side's growth across TESTDATA sfs stays below saturation). */
  private def rfPos(key: Column, half: Int): Column =
    hash60(concat(key.cast(StringType), lit("_rf")), half) % 960
  private def rfPosSql(key: String, half: Int): String =
    s"('0x' || substr(md5(CAST($key AS VARCHAR) || '_rf'), ${if (half == 0) 1 else 17}, 15))::BIGINT % 960"

  /** p56 — bloom-filter runtime semi-join reduction: the join-pruning
    * counterpart of p43's file-pruning manifest, and the exactly-checked
    * form of what Spark's InjectRuntimeFilter does opaquely. A selective
    * dimension predicate (orders with o_orderkey % 997 = 1) builds a
    * 960-bit bloom over the join keys (16×60-bit words, map-side
    * `bit_or`, ONE md5 per key); the fact side (lineitem) is probed
    * against the broadcast words BEFORE the exact join, and the report
    * counts — per l_returnflag — probe rows, bloom-admitted rows, true
    * matches, and false admissions. admitted ⊇ matched always (no false
    * negatives — the property a runtime filter must never violate, or it
    * silently drops join results); false_admits is the shuffle volume the
    * filter failed to save, the number that tells a deployment whether m
    * is sized to its build-side cardinality.
    *
    * 100 TB shape: the build is a partial-aggregated `bit_or` over the
    * FILTERED dimension (16 words total — broadcast as one row); the
    * probe is a narrow codegen'd map on the fact scan, upstream of any
    * shuffle — admitted rows are the only ones that would reach the join
    * exchange. The md5 probe cost is why real deployments push this into
    * the scan; the topology here is identical.
    */
  private val p56 = Q(
    "p56_bloom_semijoin",
    (s, d) => {
      import s.implicits._
      val keys = T(s, d, "orders").filter($"o_orderkey" % 997 === 1)
        .select($"o_orderkey".as("k"))
      def contrib(j: Int) = expr(
        s"""bit_or((CASE WHEN p1 div 60 = $j
                         THEN shiftleft(CAST(1 AS BIGINT), CAST(p1 % 60 AS INT))
                         ELSE CAST(0 AS BIGINT) END) |
                   (CASE WHEN p2 div 60 = $j
                         THEN shiftleft(CAST(1 AS BIGINT), CAST(p2 % 60 AS INT))
                         ELSE CAST(0 AS BIGINT) END))""").as(s"w$j")
      val words = keys
        .withColumn("p1", rfPos($"k", 0)).withColumn("p2", rfPos($"k", 1))
        .agg(contrib(0), (1 until 16).map(contrib): _*)
      val wordArr = (0 until 16).map(j => s"w$j").mkString(", ")
      val hit = expr(
        s"""(element_at(array($wordArr), CAST(q1 div 60 AS INT) + 1)
              & shiftleft(CAST(1 AS BIGINT), CAST(q1 % 60 AS INT))) != 0
            AND
            (element_at(array($wordArr), CAST(q2 div 60 AS INT) + 1)
              & shiftleft(CAST(1 AS BIGINT), CAST(q2 % 60 AS INT))) != 0""")
      val li = T(s, d, "lineitem").select($"l_orderkey", $"l_returnflag")
      val probed = li
        .withColumn("q1", rfPos($"l_orderkey", 0))
        .withColumn("q2", rfPos($"l_orderkey", 1))
        .crossJoin(broadcast(words))
        .groupBy($"l_returnflag").agg(
          count(lit(1)).as("probe_rows"),
          count(when(hit, 1)).as("admitted_rows"))
      val matched = li.join(broadcast(keys), $"l_orderkey" === $"k")
        .groupBy($"l_returnflag").agg(count(lit(1)).as("m_rows"))
      probed.join(matched, Seq("l_returnflag"), "left")
        .select($"l_returnflag", $"probe_rows", $"admitted_rows",
          coalesce($"m_rows", lit(0L)).as("matched_rows"),
          ($"admitted_rows" - coalesce($"m_rows", lit(0L))).as("false_admits"))
        .orderBy($"l_returnflag")
    },
    Some {
      val word = (j: Int) =>
        s"""bit_or((CASE WHEN p1 // 60 = $j THEN (CAST(1 AS BIGINT) << (p1 % 60)) ELSE 0 END) |
                   (CASE WHEN p2 // 60 = $j THEN (CAST(1 AS BIGINT) << (p2 % 60)) ELSE 0 END)) AS w$j"""
      val wordList = (0 until 16).map(j => s"w$j").mkString(", ")
      s"""
      WITH keys AS (SELECT o_orderkey AS k FROM orders
                    WHERE o_orderkey % 997 = 1),
      pos AS (SELECT k, ${rfPosSql("k", 0)} AS p1, ${rfPosSql("k", 1)} AS p2
              FROM keys),
      words AS (SELECT ${(0 until 16).map(word).mkString(", ")} FROM pos),
      probes AS (SELECT l_orderkey, l_returnflag,
          ${rfPosSql("l_orderkey", 0)} AS q1,
          ${rfPosSql("l_orderkey", 1)} AS q2
        FROM lineitem),
      adm AS (SELECT l_returnflag,
          CAST(COUNT(*) AS BIGINT) AS probe_rows,
          CAST(COUNT(*) FILTER (WHERE
            ([$wordList][CAST(q1 // 60 AS INT) + 1]
               & (CAST(1 AS BIGINT) << (q1 % 60))) <> 0
            AND ([$wordList][CAST(q2 // 60 AS INT) + 1]
               & (CAST(1 AS BIGINT) << (q2 % 60))) <> 0) AS BIGINT)
            AS admitted_rows
        FROM probes CROSS JOIN words GROUP BY l_returnflag),
      mat AS (SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS m_rows
              FROM lineitem JOIN keys ON l_orderkey = k
              GROUP BY l_returnflag)
      SELECT a.l_returnflag, a.probe_rows, a.admitted_rows,
        COALESCE(m.m_rows, CAST(0 AS BIGINT)) AS matched_rows,
        a.admitted_rows - COALESCE(m.m_rows, 0) AS false_admits
      FROM adm a LEFT JOIN mat m ON m.l_returnflag = a.l_returnflag
      ORDER BY a.l_returnflag"""
    })

  /** p57 — exact per-group order statistics (min / lower-median / p90 /
    * max of n_chars per source) by RANK SELECTION: row_number over a
    * (n_chars, doc_id) total order per source, pick the rows whose rank
    * equals the target index — (n+1) div 2 for the lower median,
    * (9n+9) div 10 = ⌈0.9n⌉ for p90 — and pivot them out with
    * conditional aggregation. Pure integer index arithmetic: no fp
    * percentile interpolation to disagree on, and the doc_id tiebreak
    * makes the selected row unique, so both engines pick the identical
    * element. The EXACT counterpart of p14's approx_percentile sketches
    * — this is what you run when the answer must be reproducible
    * (quality cut-lines, SLA thresholds); the sketch is what you run
    * when a group outgrows its sort.
    *
    * 100 TB shape: one shuffle on the group key, then two window passes
    * (rank + group size) over a single per-group sort — the canonical
    * distributed exact-percentile topology (no collect, no global sort);
    * the rollup emits one row per group. Skewed groups are the limit
    * (one group = one sort partition) — that cliff is exactly where p14
    * takes over.
    */
  private val p57 = Q(
    "p57_group_quantiles",
    (s, d) => {
      import s.implicits._
      val bySrc = Window.partitionBy($"source")
      val ranked = T(s, d, "documents")
        .select($"source", $"doc_id", $"n_chars")
        .withColumn("rn", row_number().over(
          bySrc.orderBy($"n_chars", $"doc_id")))
        .withColumn("n", count(lit(1)).over(bySrc))
      ranked.groupBy($"source").agg(
          max($"n").as("docs"),
          max(when($"rn" === 1, $"n_chars")).as("min_chars"),
          max(when($"rn" === expr("(n + 1) div 2"), $"n_chars"))
            .as("med_chars"),
          max(when($"rn" === expr("(9 * n + 9) div 10"), $"n_chars"))
            .as("p90_chars"),
          max(when($"rn" === $"n", $"n_chars")).as("max_chars"))
        .orderBy($"source")
    },
    Some("""
      WITH r AS (
        SELECT source, n_chars,
          ROW_NUMBER() OVER (PARTITION BY source
                             ORDER BY n_chars, doc_id) AS rn,
          COUNT(*) OVER (PARTITION BY source) AS n
        FROM documents)
      SELECT source, CAST(MAX(n) AS BIGINT) AS docs,
        MAX(CASE WHEN rn = 1 THEN n_chars END) AS min_chars,
        MAX(CASE WHEN rn = (n + 1) // 2 THEN n_chars END) AS med_chars,
        MAX(CASE WHEN rn = (9 * n + 9) // 10 THEN n_chars END) AS p90_chars,
        MAX(CASE WHEN rn = n THEN n_chars END) AS max_chars
      FROM r GROUP BY source ORDER BY source"""))

  /** p58 — token co-occurrence association (PMI core): document-level
    * co-occurrence counts of the top-50-df vocabulary, scored by the
    * RATIONAL pointwise-mutual-information core
    * n_ab·N·10⁶ div (n_a·n_b) — the log wrap is dropped for the same
    * reason as p51's idf (ln has no cross-engine bit guarantee; the
    * rational core is a strictly monotone transform, so the ranking is
    * identical) and the division is INTEGER, so the score is exact.
    * This is the collocation/phrase-mining statistic (and the
    * feature-association signal behind vocabulary curation); p32's BPE
    * pair stats are its adjacent-character sibling.
    *
    * 100 TB shape: the corpus-sized work is ONE shuffle — distinct
    * (doc, token) + the df count; the top-k vocabulary broadcasts and
    * caps the pair space at vocab² BEFORE the self-join (the join input
    * is |docs|·|vocab hits|, the classic guard against the unbounded
    * all-token pair explosion). Final top-20 is a TakeOrdered.
    */
  private val p58 = Q(
    "p58_pmi_pairs",
    (s, d) => {
      import s.implicits._
      val docs = T(s, d, "documents")
      val dt = docs
        .select($"doc_id", explode(split($"text", " ")).as("w")).distinct()
      val vocab = dt.groupBy($"w").agg(count(lit(1)).as("df"))
        .orderBy($"df".desc, $"w").limit(50)
      val dtv = dt.join(broadcast(vocab), "w")
      val nTot = docs.agg(count(lit(1)).as("n_docs"))
      dtv.select($"doc_id", $"w".as("a"), $"df".as("dfa"))
        .join(dtv.select($"doc_id", $"w".as("b"), $"df".as("dfb")), "doc_id")
        .filter($"a" < $"b")
        .groupBy($"a", $"b", $"dfa", $"dfb").agg(count(lit(1)).as("n_ab"))
        .filter($"n_ab" >= 5)
        .crossJoin(broadcast(nTot))
        .select($"a", $"b", $"dfa", $"dfb", $"n_ab",
          expr("(n_ab * n_docs * 1000000) div (dfa * dfb)").as("pmi_score"))
        .orderBy($"pmi_score".desc, $"a", $"b")
        .limit(20)
    },
    Some("""
      WITH dt AS (
        SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w
        FROM documents),
      vocab AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS df FROM dt
                GROUP BY w ORDER BY df DESC, w LIMIT 50),
      dtv AS (SELECT dt.doc_id, dt.w, vocab.df
              FROM dt JOIN vocab ON dt.w = vocab.w),
      n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
      pairs AS (
        SELECT x.w AS a, y.w AS b, x.df AS dfa, y.df AS dfb,
          CAST(COUNT(*) AS BIGINT) AS n_ab
        FROM dtv x JOIN dtv y ON x.doc_id = y.doc_id AND x.w < y.w
        GROUP BY 1, 2, 3, 4 HAVING COUNT(*) >= 5)
      SELECT a, b, dfa, dfb, n_ab,
        (n_ab * n_docs * 1000000) // (dfa * dfb) AS pmi_score
      FROM pairs CROSS JOIN n
      ORDER BY pmi_score DESC, a, b LIMIT 20"""))

  /** p59 — corpus-self bigram LM quality score: count every bigram over
    * the whole corpus, then score each document by how "typical" its
    * bigrams are — hit_mass = Σ corpus-count(bigram occurrence), and
    * lm_score = hit_mass·1000 div n_bigrams (the average corpus support
    * per bigram, in milli-units). This is the cheap-LM fluency/quality
    * signal (the non-neural stand-in for perplexity filtering à la
    * CCNet/Gopher rules): boilerplate and templated text scores high,
    * novel or garbled text scores low. The log wrap of a true LM is
    * dropped for the same reason as p51's idf and p58's PMI — ln has no
    * cross-engine bit guarantee, and the rational core is monotone in
    * each bigram's support, so the quality RANKING the filter consumes
    * is unchanged — and the score stays exact integer arithmetic.
    *
    * 100 TB shape: bigram expansion is a narrow codegen'd zip_with (no
    * self-join, no window); the corpus count is ONE shuffle on the
    * bigram key with map-side partial aggregation; the score join
    * co-partitions doc-bigrams with counts on that same key, and the
    * per-doc rollup is the third and final shuffle. No vocabulary cap
    * is needed for correctness — but at deployment scale the count
    * table is Zipf-shaped, so AQE's skew split handles the "the the"
    * head buckets, and the final top-k is a TakeOrdered, not a sort.
    */
  private val p59 = Q(
    "p59_lm_score",
    (s, d) => {
      import s.implicits._
      val toks = T(s, d, "documents")
        .select($"doc_id", split($"text", " ").as("a"))
        .filter(size($"a") >= 2)
      val bg = toks.select($"doc_id", explode(expr(
        """zip_with(slice(a, 1, size(a) - 1), slice(a, 2, size(a) - 1),
             (x, y) -> concat(x, ' ', y))""")).as("b"))
      val cnt = bg.groupBy($"b").agg(count(lit(1)).as("c"))
      bg.join(cnt, "b")
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_bigrams"), sum($"c").as("hit_mass"))
        .select($"doc_id", $"n_bigrams", $"hit_mass",
          expr("(hit_mass * 1000) div n_bigrams").as("lm_score"))
        .orderBy($"lm_score".desc, $"doc_id")
        .limit(15)
    },
    Some("""
      WITH toks AS (SELECT doc_id, string_split(text, ' ') AS a
                    FROM documents
                    WHERE len(string_split(text, ' ')) >= 2),
      bg AS (SELECT doc_id, a[CAST(i AS INT)] || ' ' || a[CAST(i AS INT) + 1] AS b
             FROM toks, UNNEST(range(1, len(a))) AS t(i)),
      cnt AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS c FROM bg GROUP BY b),
      per AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
                     CAST(SUM(c) AS BIGINT) AS hit_mass
              FROM bg JOIN cnt USING (b) GROUP BY doc_id)
      SELECT doc_id, n_bigrams, hit_mass,
        (hit_mass * 1000) // n_bigrams AS lm_score
      FROM per ORDER BY lm_score DESC, doc_id LIMIT 15"""))

  /** p60 — int8 scalar quantization of the embedding column: global
    * per-dimension min/max, then q = ⌊(x−mn)/(mx−mn)·255 + 0.5⌋ per
    * element — the compression step every trillion-vector ANN serving
    * stack runs before indexing (4× smaller than float32; p49's PQ is
    * the codebook sibling, this is the per-dim affine sibling). The
    * gate checks integer CHECKSUMS of the quantized codes (sum/min/max
    * per vector), the quantization error in integer milli-units
    * (⌊t·255000+0.5⌋ − q·1000 — exact, no float sum to reassociate),
    * and the count of saturated codes. Each element's float→double
    * widening, subtraction, division, multiply, and floor is a fixed
    * IEEE sequence with identical parenthesization on both engines, so
    * the codes are bit-identical cross-engine.
    *
    * 100 TB shape: the stats pass is a posexplode + groupBy(pos) with
    * map-side combine — 64 result rows no matter the corpus — which
    * then broadcast as two 64-element arrays (ONE row) to a narrow
    * per-vector map: transform + sequential aggregate over the array,
    * zero per-element row explosion on the quantize path, no second
    * corpus shuffle. The final top-k is a TakeOrdered.
    */
  private val p60 = Q(
    "p60_embed_quantize",
    (s, d) => {
      import s.implicits._
      // Empty vectors would quantize to q_sum=0 / NULL q_min here while
      // the oracle's UNNEST omits them entirely — drop them up front so
      // both engines agree on the row set. (Longer-than-stats vectors
      // can't occur: the stats arrays are derived from this same data,
      // so their length is the global max vector length.)
      val emb = T(s, d, "embeddings").filter(size($"embedding") >= 1)
      val ex = emb.select($"vec_id", posexplode($"embedding").as(Seq("pos", "x")))
      val st = ex.groupBy($"pos").agg(
        min($"x".cast(DoubleType)).as("mn"),
        max($"x".cast(DoubleType)).as("mx"))
      val stRow = st.agg(
        expr("transform(array_sort(collect_list(struct(pos, mn))), t -> t.mn)")
          .as("mns"),
        expr("transform(array_sort(collect_list(struct(pos, mx))), t -> t.mx)")
          .as("mxs"))
      emb.crossJoin(broadcast(stRow))
        .withColumn("qarr", expr(
          """transform(sequence(0, size(embedding) - 1), i ->
               CASE WHEN mxs[i] = mns[i] THEN 0L
               ELSE CAST(floor(((CAST(embedding[i] AS DOUBLE) - mns[i])
                 / (mxs[i] - mns[i])) * 255.0D + 0.5D) AS BIGINT) END)"""))
        .withColumn("qmarr", expr(
          """transform(sequence(0, size(embedding) - 1), i ->
               CASE WHEN mxs[i] = mns[i] THEN 0L
               ELSE CAST(floor(((CAST(embedding[i] AS DOUBLE) - mns[i])
                 / (mxs[i] - mns[i])) * 255000.0D + 0.5D) AS BIGINT) END)"""))
        .select($"vec_id",
          expr("aggregate(qarr, 0L, (acc, x) -> acc + x)").as("q_sum"),
          expr("array_min(qarr)").as("q_min"),
          expr("array_max(qarr)").as("q_max"),
          expr("""aggregate(zip_with(qmarr, qarr, (m, q) -> abs(m - q * 1000)),
                    0L, (acc, x) -> acc + x)""").as("err_milli"),
          expr("CAST(size(filter(qarr, x -> x = 0 OR x = 255)) AS BIGINT)")
            .as("n_extreme"))
        .orderBy($"q_sum".desc, $"vec_id")
        .limit(20)
    },
    Some("""
      WITH ex AS (SELECT vec_id, CAST(i AS INT) AS pos,
                    CAST(embedding[CAST(i AS INT) + 1] AS DOUBLE) AS x
                  FROM embeddings, UNNEST(range(0, len(embedding))) AS t(i)),
      st AS (SELECT pos, MIN(x) AS mn, MAX(x) AS mx FROM ex GROUP BY pos),
      qz AS (SELECT vec_id,
              CASE WHEN mx = mn THEN CAST(0 AS BIGINT)
                   ELSE CAST(FLOOR(((x - mn) / (mx - mn)) * 255.0 + 0.5)
                     AS BIGINT) END AS q,
              CASE WHEN mx = mn THEN CAST(0 AS BIGINT)
                   ELSE CAST(FLOOR(((x - mn) / (mx - mn)) * 255000.0 + 0.5)
                     AS BIGINT) END AS qm
            FROM ex JOIN st USING (pos))
      SELECT vec_id, CAST(SUM(q) AS BIGINT) AS q_sum,
        MIN(q) AS q_min, MAX(q) AS q_max,
        CAST(SUM(ABS(qm - q * 1000)) AS BIGINT) AS err_milli,
        CAST(COUNT(*) FILTER (WHERE q = 0 OR q = 255) AS BIGINT) AS n_extreme
      FROM qz GROUP BY vec_id ORDER BY q_sum DESC, vec_id LIMIT 20"""))

  /** p61 — community detection by synchronous label propagation over the
    * co-purchase graph (the p52 edge set: parts co-occurring in ≥2
    * orders): 3 unrolled rounds of "adopt the most frequent neighbor
    * label", ties broken by the SMALLEST label so every round is a pure
    * function of the previous labeling — the determinism knob that makes
    * LPA (normally run async with random tie-breaks) reproducible
    * cross-engine. Complements p17 (connected components = the
    * coarsest communities) and p42 (PageRank = per-node authority):
    * LPA finds DENSE subgroups inside a component, the clustering used
    * for domain/topic bucketing of a training corpus.
    *
    * 100 TB shape: pair expansion reuses p52's one-shuffle basket
    * topology (collect_set per order + codegen'd C(n,2) expansion — no
    * fact self-join); each round is a co-partitioned join of labels to
    * the adjacency on the node key, a counting aggregate, and a
    * per-node window argmax — three key-local shuffles per round, no
    * driver-side data movement, lineage pinned between rounds exactly
    * like p42's fixpoint. Rounds are a fixed constant (3), so the plan
    * depth is bounded; convergence-to-fixpoint would loop the same
    * round body under the p17 delta-count guard.
    */
  private val p61 = Q(
    "p61_label_propagation",
    (s, d) => {
      import s.implicits._
      val byOrd = T(s, d, "lineitem").groupBy($"l_orderkey")
        .agg(sort_array(collect_set($"l_partkey")).as("pks"))
      // Codegen'd two-generator pair expansion — see p52 for why this
      // beats the higher-order transform/struct form (12.6 → 4.8 s).
      val pairs = byOrd
        .select(posexplode($"pks").as(Seq("i", "u")), $"pks")
        .select($"u", explode(expr("slice(pks, i + 2, size(pks))")).as("v"))
      val e = pin(pairs.groupBy($"u", $"v").agg(count(lit(1)).as("cw"))
        .filter($"cw" >= 2).select($"u", $"v"))
      labelPropagate(e, rounds = 3)
        .groupBy(col("label").as("community"))
        .agg(count(lit(1)).as("csize"), min(col("id")).as("min_member"))
        .orderBy(col("csize").desc, col("community")).limit(20)
    },
    Some("""
      WITH bask AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      e0 AS (SELECT a.l_partkey AS u, b.l_partkey AS v
             FROM bask a JOIN bask b ON a.l_orderkey = b.l_orderkey
              AND a.l_partkey < b.l_partkey),
      e AS (SELECT u, v FROM e0 GROUP BY u, v HAVING COUNT(*) >= 2),
      adj AS (SELECT u AS n, v AS m FROM e
              UNION ALL SELECT v AS n, u AS m FROM e),
      l0 AS (SELECT DISTINCT n AS id, n AS label FROM adj),
      c1 AS (SELECT adj.n AS n, l.label, CAST(COUNT(*) AS BIGINT) AS c
             FROM adj JOIN l0 l ON adj.m = l.id GROUP BY adj.n, l.label),
      l1 AS (SELECT n AS id, label FROM (SELECT n, label,
               ROW_NUMBER() OVER (PARTITION BY n ORDER BY c DESC, label) AS rn
               FROM c1) s WHERE rn = 1),
      c2 AS (SELECT adj.n AS n, l.label, CAST(COUNT(*) AS BIGINT) AS c
             FROM adj JOIN l1 l ON adj.m = l.id GROUP BY adj.n, l.label),
      l2 AS (SELECT n AS id, label FROM (SELECT n, label,
               ROW_NUMBER() OVER (PARTITION BY n ORDER BY c DESC, label) AS rn
               FROM c2) s WHERE rn = 1),
      c3 AS (SELECT adj.n AS n, l.label, CAST(COUNT(*) AS BIGINT) AS c
             FROM adj JOIN l2 l ON adj.m = l.id GROUP BY adj.n, l.label),
      l3 AS (SELECT n AS id, label FROM (SELECT n, label,
               ROW_NUMBER() OVER (PARTITION BY n ORDER BY c DESC, label) AS rn
               FROM c3) s WHERE rn = 1)
      SELECT label AS community, CAST(COUNT(*) AS BIGINT) AS csize,
        MIN(id) AS min_member
      FROM l3 GROUP BY label ORDER BY csize DESC, community LIMIT 20"""))

  /** p62 — DSIR-style importance weights for data selection: hash every
    * token occurrence into 64 feature buckets (md5, the proven
    * cross-engine 60-bit pattern: `hash60`), fit add-one-smoothed bucket
    * counts on a TARGET slice (lang = 'en') vs the RAW corpus, and weight each
    * document by its mean per-occurrence target/raw bucket ratio in
    * exact integer millionths — the hashed-n-gram importance-resampling
    * selection signal (Xie et al., "Data Selection for Language Models
    * via Importance Resampling"), which upweights raw documents that
    * look like the target distribution. The true DSIR weight is a log
    * ratio sum; the rational linear core keeps the ranking signal while
    * staying bit-exact cross-engine (same trade as p51/p58/p59). The
    * top-15 here lands 11/15 English at sf0.01 — the selector works.
    *
    * 100 TB shape: tokenize + bucket-hash is a narrow codegen'd map;
    * both bucket tables aggregate to 64 rows (map-side combine) and the
    * joined stats BROADCAST, so scoring rejoins the occurrence stream
    * with zero shuffle; the per-doc rollup is the single corpus-keyed
    * shuffle. This is the canonical "train cheap proxy on target, score
    * everything" topology — the stats fit in L1, not just memory.
    */
  private val p62 = Q(
    "p62_dsir_weights",
    (s, d) => {
      import s.implicits._
      val words = T(s, d, "documents")
        .select($"doc_id", $"lang", explode(split($"text", " ")).as("w"))
        .withColumn("b", hash60($"w") % 64)
      // Raw and target bucket counts in ONE pass over the occurrence
      // stream (conditional count), not two scans + a join: the corpus
      // is read twice total (stats, scoring), the minimum for a
      // two-phase fit-then-score selector without caching.
      val stats = words.groupBy($"b").agg(
        count(lit(1)).as("rcnt"),
        count(when($"lang" === "en", 1)).as("tcnt"))
      words.join(broadcast(stats), "b")
        .groupBy($"doc_id", $"lang")
        .agg(count(lit(1)).as("n_tokens"),
          sum(expr("((tcnt + 1) * 1000000) div (rcnt + 1)")).as("mass"))
        .select($"doc_id", $"lang", $"n_tokens", $"mass",
          expr("mass div n_tokens").as("dsir_score"))
        .orderBy($"dsir_score".desc, $"doc_id")
        .limit(15)
    },
    Some("""
      WITH words AS (SELECT doc_id, lang,
               unnest(string_split(text, ' ')) AS w FROM documents),
      wb AS (SELECT doc_id, lang,
               ('0x' || substr(md5(w), 1, 15))::BIGINT % 64 AS b FROM words),
      raw AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS rcnt FROM wb GROUP BY b),
      tgt AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS tcnt FROM wb
              WHERE lang = 'en' GROUP BY b),
      st AS (SELECT raw.b AS b, rcnt,
               COALESCE(tcnt, CAST(0 AS BIGINT)) AS tcnt
             FROM raw LEFT JOIN tgt ON raw.b = tgt.b),
      per AS (SELECT doc_id, lang, CAST(COUNT(*) AS BIGINT) AS n_tokens,
                CAST(SUM(((tcnt + 1) * 1000000) // (rcnt + 1)) AS BIGINT)
                  AS mass
              FROM wb JOIN st USING (b) GROUP BY doc_id, lang)
      SELECT doc_id, lang, n_tokens, mass, mass // n_tokens AS dsir_score
      FROM per ORDER BY dsir_score DESC, doc_id LIMIT 15"""))

  /** p63 — keep-best canonical selection: the "which copy do you KEEP"
    * half of dedup. Documents cluster by identical 60-bit SimHash (p09's
    * fingerprint — exact dups and token-reorder near-dups collapse), and
    * each cluster retains its LONGEST member (ties → smallest doc_id):
    * the standard curation rule that the fullest version of a duplicated
    * page carries the most training signal. Output is the per-source
    * retention ledger — docs seen, kept, dropped, and surviving chars —
    * i.e. what each upstream source actually contributes post-dedup.
    *
    * 100 TB shape: fingerprinting is a narrow codegen map; the keep-best
    * decision is max(struct(n_chars, -doc_id, source)) — a map-side
    * combinable ARGMAX on the simhash key, not a window sort, so the
    * cluster shuffle carries one partially-reduced row per (partition,
    * simhash), not the full corpus; the per-source rollups are
    * dimension-sized. Compare p17, which materializes the cluster
    * GRAPH — this entry answers the cheaper operational question (who
    * survives) with one aggregate.
    */
  private val p63 = Q(
    "p63_keep_best",
    (s, d) => {
      import s.implicits._
      val docs = T(s, d, "documents")
      val withSim = docs.select($"doc_id", $"source", $"n_chars",
        VectorFunctions.simhash60(tokenHashes($"text")).as("simhash"))
      val winners = withSim.groupBy($"simhash")
        .agg(max(struct($"n_chars", (-$"doc_id").as("nd"),
          $"source".as("src"))).as("top"))
      val kept = winners.groupBy($"top.src".as("source"))
        .agg(count(lit(1)).as("n_kept"),
          sum($"top.n_chars").as("kept_chars"))
      docs.groupBy($"source").agg(count(lit(1)).as("n_docs"))
        .join(kept, Seq("source"), "left")
        .select($"source", $"n_docs",
          coalesce($"n_kept", lit(0L)).as("n_kept"),
          ($"n_docs" - coalesce($"n_kept", lit(0L))).as("n_dropped"),
          coalesce($"kept_chars", lit(0L)).as("kept_chars"))
        .orderBy($"source")
    },
    Some("""
      WITH th AS (
        SELECT doc_id, source, n_chars,
          list_transform(list_distinct(string_split(text, ' ')),
                         t -> ('0x' || substr(md5(t), 1, 15))::BIGINT) AS hs
        FROM documents),
      sh AS (
        SELECT doc_id, source, n_chars,
          list_sum(list_transform(range(0, 60), j ->
            CASE WHEN list_sum(list_transform(hs, h ->
                   CASE WHEN (h >> j) % 2 = 1 THEN 1 ELSE -1 END)) >= 0
            THEN (1::BIGINT << j) ELSE 0::BIGINT END))::BIGINT AS simhash
        FROM th),
      win AS (
        SELECT source, n_chars,
          ROW_NUMBER() OVER (PARTITION BY simhash
                             ORDER BY n_chars DESC, doc_id) AS rn
        FROM sh),
      kept AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_kept,
                 CAST(SUM(n_chars) AS BIGINT) AS kept_chars
               FROM win WHERE rn = 1 GROUP BY source),
      tot AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
              FROM documents GROUP BY source)
      SELECT t.source, n_docs,
        COALESCE(n_kept, CAST(0 AS BIGINT)) AS n_kept,
        n_docs - COALESCE(n_kept, CAST(0 AS BIGINT)) AS n_dropped,
        COALESCE(kept_chars, CAST(0 AS BIGINT)) AS kept_chars
      FROM tot t LEFT JOIN kept USING (source) ORDER BY source"""))

  /** p64 — length-bucketed batch packing: the padding-waste minimizer
    * every training dataloader runs. Documents batch 8-at-a-time per
    * source in LENGTH order (the "sorted batching" / bucketing trick),
    * and the entry reports each source's padding bill — Σ over batches
    * of max_len·batch_size − Σ tokens — against the naive arrival-order
    * baseline. On this corpus sorted batching cuts padding ~3×
    * (5,619 vs 16,519 padded tokens at sf0.01), strictly better for
    * every source; the measured complement of p26, which packs token
    * BUDGETS — this packs fixed-count batches and minimizes the pad.
    *
    * 100 TB shape: one window per source (the partition key), so
    * batching parallelizes across sources and never needs a global
    * sort; within a source the length sort is exactly what the
    * dataloader needs anyway. A source too hot for one partition
    * length-range-buckets first (the p57 cliff note applies). All
    * integer arithmetic — rank, floor-div batch ids, exact pad sums.
    */
  private val p64 = Q(
    "p64_length_batches",
    (s, d) => {
      import s.implicits._
      val toks = T(s, d, "documents")
        .select($"doc_id", $"source",
          size(split($"text", " ")).cast(LongType).as("nt"))
      def padPerSource(w: org.apache.spark.sql.expressions.WindowSpec,
          out: String): DataFrame =
        toks.withColumn("rn", row_number().over(w))
          .withColumn("b", expr("(rn - 1) div 8"))
          .groupBy($"source", $"b")
          .agg((max($"nt") * count(lit(1)) - sum($"nt")).as("pad"))
          .groupBy($"source")
          .agg(count(lit(1)).as("n_batches"), sum($"pad").as(out))
      val sorted = padPerSource(
        Window.partitionBy($"source").orderBy($"nt", $"doc_id"), "sorted_pad")
      val naive = padPerSource(
        Window.partitionBy($"source").orderBy($"doc_id"), "naive_pad")
        .drop("n_batches")
      sorted.join(naive, "source")
        .select($"source", $"n_batches", $"sorted_pad", $"naive_pad")
        .orderBy($"source")
    },
    Some("""
      WITH toks AS (SELECT doc_id, source,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
        FROM documents),
      s AS (SELECT source, nt,
          (ROW_NUMBER() OVER (PARTITION BY source ORDER BY nt, doc_id) - 1)
            // 8 AS b
        FROM toks),
      n AS (SELECT source, nt,
          (ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) - 1)
            // 8 AS b
        FROM toks),
      sb AS (SELECT source, b,
          CAST(MAX(nt) * COUNT(*) - SUM(nt) AS BIGINT) AS pad
        FROM s GROUP BY source, b),
      nb AS (SELECT source, b,
          CAST(MAX(nt) * COUNT(*) - SUM(nt) AS BIGINT) AS pad
        FROM n GROUP BY source, b),
      sa AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_batches,
          CAST(SUM(pad) AS BIGINT) AS sorted_pad FROM sb GROUP BY source),
      na AS (SELECT source, CAST(SUM(pad) AS BIGINT) AS naive_pad
        FROM nb GROUP BY source)
      SELECT sa.source, n_batches, sorted_pad, naive_pad
      FROM sa JOIN na ON sa.source = na.source ORDER BY sa.source"""))

  /** p65 — leakage-safe train/valid/test split: assign whole near-dup
    * CLUSTERS (p63's SimHash key) to splits by hashing the cluster id
    * (90/5/5), so no near-duplicate of a training document can land in
    * evaluation — the contamination-by-construction guard (the
    * group-wise split every careful eval pipeline runs; p22's doc-level
    * split is the leaky baseline). The ledger reports per-split cluster
    * /doc/char counts plus the AUDIT column: how many clusters a naive
    * doc-level 90/10 split would fracture across train and eval on this
    * corpus — the leakage this operator exists to prevent (5 clusters
    * at sf0.01). Group-wise assignment trades exact split ratios for
    * integrity: a large cluster drags its whole mass into one split.
    *
    * 100 TB shape: fingerprint is a narrow codegen map; the split tag
    * is a pure per-row md5 — no shuffle at all until the per-split
    * rollup (3 rows) and the distinct-cluster counts (cluster-keyed,
    * map-side combinable); the audit is one extra aggregate over the
    * same keys. Nothing here scales with anything but the corpus scan.
    */
  private val p65 = Q(
    "p65_leakage_split",
    (s, d) => {
      import s.implicits._
      def pct(key: Column) =
        hash60(concat(key.cast(StringType), lit("_split"))) % 100
      val tagged = T(s, d, "documents")
        .select($"doc_id", $"n_chars",
          VectorFunctions.simhash60(tokenHashes($"text")).as("cluster"))
        .withColumn("split",
          when(pct($"cluster") < 90, "train")
            .when(pct($"cluster") < 95, "valid").otherwise("test"))
        .withColumn("naive_split",
          when(pct($"doc_id") < 90, "train").otherwise("eval"))
      val frac = tagged.groupBy($"cluster")
        .agg(countDistinct($"naive_split").as("ns"))
        .agg(count(when($"ns" > 1, 1)).as("naive_fractured"))
      tagged.groupBy($"split")
        .agg(countDistinct($"cluster").as("n_clusters"),
          count(lit(1)).as("n_docs"), sum($"n_chars").as("total_chars"))
        .crossJoin(broadcast(frac))
        .orderBy($"split")
    },
    Some("""
      WITH th AS (
        SELECT doc_id, n_chars,
          list_transform(list_distinct(string_split(text, ' ')),
                         t -> ('0x' || substr(md5(t), 1, 15))::BIGINT) AS hs
        FROM documents),
      sh AS (
        SELECT doc_id, n_chars,
          list_sum(list_transform(range(0, 60), j ->
            CASE WHEN list_sum(list_transform(hs, h ->
                   CASE WHEN (h >> j) % 2 = 1 THEN 1 ELSE -1 END)) >= 0
            THEN (1::BIGINT << j) ELSE 0::BIGINT END))::BIGINT AS cluster
        FROM th),
      tagged AS (
        SELECT doc_id, n_chars, cluster,
          CASE WHEN ('0x' || substr(md5(CAST(cluster AS VARCHAR) || '_split'),
                       1, 15))::BIGINT % 100 < 90 THEN 'train'
               WHEN ('0x' || substr(md5(CAST(cluster AS VARCHAR) || '_split'),
                       1, 15))::BIGINT % 100 < 95 THEN 'valid'
               ELSE 'test' END AS split,
          CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '_split'),
                       1, 15))::BIGINT % 100 < 90 THEN 'train'
               ELSE 'eval' END AS naive_split
        FROM sh),
      frac AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS naive_fractured FROM (
          SELECT cluster FROM tagged GROUP BY cluster
          HAVING COUNT(DISTINCT naive_split) > 1))
      SELECT split, CAST(COUNT(DISTINCT cluster) AS BIGINT) AS n_clusters,
        CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        naive_fractured
      FROM tagged CROSS JOIN frac
      GROUP BY split, naive_fractured ORDER BY split"""))

  /** The p69 kernel, factored over an arbitrary undirected edge list
    * (u, v): `rounds` synchronous peeling passes dropping nodes whose
    * degree < k, returning the surviving (node, deg) pairs with degrees
    * measured in the FINAL pruned adjacency. A fixed round count bounds
    * plan depth (the fixpoint variant would loop this body under the p17
    * delta-count guard); after round r the result equals the true k-core
    * whenever peeling has converged by then, and is otherwise a superset.
    */
  private[graft] def kcoreSurvivors(e: DataFrame, k: Int,
      rounds: Int): DataFrame = {
    var adj = e.select(col("u").as("n"), col("v").as("m"))
      .unionAll(e.select(col("v").as("n"), col("u").as("m")))
    for (_ <- 1 to rounds) {
      val keep = adj.groupBy(col("n")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select(col("n"))
      adj = pin(adj.join(keep, "n")
        .join(keep.select(col("n").as("m")), "m").select(col("n"), col("m")))
    }
    adj.groupBy(col("n")).agg(count(lit(1)).as("deg"))
      .select(col("n").as("node"), col("deg"))
  }

  /** The p61 kernel, factored over an arbitrary undirected edge list
    * (u, v): synchronous label propagation, each node adopting its most
    * frequent neighbor label with ties to the SMALLEST label — a pure
    * function of the previous labeling, so reproducible cross-engine.
    * Argmax by min(struct(-c, label)): lexicographic struct min IS
    * "highest count, then smallest label". The COUNT is negated (a
    * count is always ≥ 1, so negation can't overflow), not the label —
    * which keeps the tie order correct for ARBITRARY labels, including
    * negative node ids and Long.MinValue, since the label travels
    * unmodified. Unlike a row_number window this partial-aggregates
    * map-side and never sorts. Per round: one co-partitioned join + two
    * key-local aggregates; lineage pinned between rounds like p42's
    * fixpoint.
    */
  private[graft] def labelPropagate(e: DataFrame, rounds: Int): DataFrame = {
    val adj = e.select(col("u").as("n"), col("v").as("m"))
      .unionAll(e.select(col("v").as("n"), col("u").as("m")))
    var labels = adj.select(col("n").as("id")).distinct()
      .select(col("id"), col("id").as("label"))
    for (_ <- 1 to rounds) {
      val cnts = adj.join(labels.select(col("id").as("m"), col("label")), "m")
        .groupBy(col("n"), col("label")).agg(count(lit(1)).as("c"))
      labels = pin(cnts
        .groupBy(col("n"))
        .agg(min(struct((-col("c")).as("nc"), col("label"))).as("top"))
        .select(col("n").as("id"), col("top.label").as("label")))
    }
    labels
  }

  /** p66 — embedding covariance structure: the top-20 most-correlated
    * dimension pairs by |covariance numerator| n·Σxᵢxⱼ − Σxᵢ·Σxⱼ (the
    * covariance times n², so ranking is identical with zero division) —
    * the first pass of feature whitening / PCA / redundant-dimension
    * pruning over a vector corpus. Exact cross-engine: elements quantize
    * to integer milli-units via the p60 floor(x·1000+0.5) pattern, all
    * sums ride BIGINT→DECIMAL(38,0) (no float accumulation to
    * reassociate, no rounding — scale stays 0 through every multiply).
    *
    * 100 TB shape: the pair expansion is the p52 codegen'd
    * posexplode/slice generator chain (no self-join of the exploded
    * corpus — the O(d²) blowup happens INSIDE each row), and the
    * aggregate partial-combines map-side to at most C(64,2)=2016 cells
    * per partition, so the shuffle is 2016 rows regardless of corpus
    * size; the per-dim stats (64 rows) broadcast-join onto the cells.
    */
  private val p66 = Q(
    "p66_embed_covariance",
    (s, d) => {
      import s.implicits._
      val e = T(s, d, "embeddings").filter(size($"embedding") === 64)
        .select($"vec_id", expr(
          """transform(embedding, x ->
               CAST(floor(CAST(x AS DOUBLE) * 1000.0D + 0.5D) AS BIGINT))""")
          .as("e3"))
      val ex = e.select($"vec_id", posexplode($"e3").as(Seq("i", "x")))
      val si = ex.groupBy($"i")
        .agg(sum($"x".cast(DecimalType(38, 0))).as("s_i"),
          count(lit(1)).as("n"))
      val sij = e
        .select($"e3", posexplode($"e3").as(Seq("i", "xi")))
        .select($"i", $"xi",
          posexplode(expr("slice(e3, i + 2, 64)")).as(Seq("dj", "xj")))
        .groupBy($"i", ($"i" + $"dj" + 1).cast(IntegerType).as("j"))
        .agg(sum(($"xi" * $"xj").cast(DecimalType(38, 0))).as("s_ij"))
      val a = si.select($"i", $"s_i".as("s_a"), $"n")
      val b = si.select($"i".as("j"), $"s_i".as("s_b"))
      val cov = sij.join(broadcast(a), "i").join(broadcast(b), "j")
        .withColumn("cov_num",
          ($"n".cast(DecimalType(38, 0)) * $"s_ij" - $"s_a" * $"s_b")
            .cast(DecimalType(38, 0)))
      cov.select($"i", $"j", $"cov_num", $"n")
        .orderBy(abs($"cov_num").desc, $"i", $"j").limit(20)
    },
    Some("""
      WITH e AS (SELECT vec_id, list_transform(embedding, x ->
                   CAST(floor(CAST(x AS DOUBLE) * 1000.0 + 0.5) AS BIGINT)) AS e3
                 FROM embeddings WHERE len(embedding) = 64),
      ex AS (SELECT vec_id, CAST(i AS INT) AS i, e3[CAST(i AS INT)+1] AS x
             FROM e, UNNEST(range(0, 64)) t(i)),
      sij AS (SELECT a.i AS i, b.i AS j,
                CAST(SUM(CAST(a.x * b.x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s_ij
              FROM ex a JOIN ex b ON a.vec_id = b.vec_id AND a.i < b.i
              GROUP BY a.i, b.i),
      si AS (SELECT i, CAST(SUM(x) AS DECIMAL(38,0)) AS s_i,
               CAST(COUNT(*) AS BIGINT) AS n FROM ex GROUP BY i)
      SELECT s.i, s.j,
        CAST(CAST(a.n AS DECIMAL(38,0)) * s.s_ij - a.s_i * b.s_i
          AS DECIMAL(38,0)) AS cov_num,
        a.n AS n
      FROM sij s JOIN si a ON s.i = a.i JOIN si b ON s.j = b.i
      ORDER BY abs(CAST(CAST(a.n AS DECIMAL(38,0)) * s.s_ij - a.s_i * b.s_i
        AS DECIMAL(38,0))) DESC, s.i, s.j LIMIT 20"""))

  /** p67 — temperature-scaled mixture weights (τ = 2): per-source
    * sampling weight ∝ (total chars)^(1/τ) = sqrt, the standard
    * upsampling that flattens a multilingual/multi-domain corpus toward
    * low-resource sources (the XLM-R / mBERT exponential-smoothing
    * recipe). sqrt is the single permitted double op (IEEE-identical,
    * p11 precedent), immediately pinned to integer milli-units via
    * floor(·1000+0.5); shares and a 100k-budget allocation come from
    * INTEGER division (Spark DIV ≡ DuckDB // for non-negative operands
    * — never `/`, whose cast-back rounds half-even in DuckDB and
    * truncates in Spark).
    *
    * 100 TB shape: one map-side-combined aggregate to |sources| rows,
    * the weight total broadcast back as one row — the corpus is read
    * once, nothing wide ever shuffles.
    */
  private val p67 = Q(
    "p67_mixture_temperature",
    (s, d) => {
      import s.implicits._
      val w = T(s, d, "documents").groupBy($"source")
        .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("total_chars"))
        .withColumn("w_milli", expr(
          "CAST(floor(sqrt(CAST(total_chars AS DOUBLE)) * 1000.0D + 0.5D) AS BIGINT)"))
      val t = w.agg(sum($"w_milli").as("w_total"))
      w.crossJoin(broadcast(t))
        .select($"source", $"n_docs", $"total_chars", $"w_milli",
          expr("w_milli * 1000000L DIV w_total").as("share_ppm"),
          expr("w_milli * 100000L DIV w_total").as("sampled_of_100k"))
        .orderBy($"source")
    },
    Some("""
      WITH s AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(n_chars) AS BIGINT) AS total_chars
                 FROM documents GROUP BY source),
      w AS (SELECT source, n_docs, total_chars,
              CAST(floor(sqrt(CAST(total_chars AS DOUBLE)) * 1000.0 + 0.5)
                AS BIGINT) AS w_milli
            FROM s),
      t AS (SELECT CAST(SUM(w_milli) AS BIGINT) AS w_total FROM w)
      SELECT source, n_docs, total_chars, w_milli,
        CAST(w_milli * 1000000 // w_total AS BIGINT) AS share_ppm,
        CAST(w_milli * 100000 // w_total AS BIGINT) AS sampled_of_100k
      FROM w CROSS JOIN t ORDER BY source"""))

  /** p68 — behavioral transition matrix: global (prev event_type → event
    * type) bigram counts over each user's time-ordered event stream —
    * the Markov-chain feature behind session modeling, bot detection,
    * and next-action prediction. The lag window orders by (ts, event_id)
    * — ts alone ties (multiple events share a timestamp) and an
    * ambiguous order would diverge cross-engine.
    *
    * 100 TB shape: ONE shuffle keyed by user (the lag window), then the
    * transition aggregate partial-combines to |types|² ≤ dozens of rows;
    * the grand total broadcasts back as one row. Identical topology to
    * p54's session paths, reused deliberately.
    */
  private val p68 = Q(
    "p68_transition_matrix",
    (s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      val c = T(s, d, "events")
        .withColumn("prev", lag($"event_type", 1).over(w))
        .filter($"prev".isNotNull)
        .groupBy($"prev", $"event_type".as("cur"))
        .agg(count(lit(1)).as("n"))
      val t = c.agg(sum($"n").as("total"))
      c.crossJoin(broadcast(t))
        .select($"prev", $"cur", $"n",
          expr("n * 1000000L DIV total").as("share_ppm"))
        .orderBy($"n".desc, $"prev", $"cur").limit(20)
    },
    Some("""
      WITH o AS (SELECT user_id, event_type,
                   lag(event_type) OVER (PARTITION BY user_id
                     ORDER BY ts, event_id) AS prev
                 FROM events),
      c AS (SELECT prev, event_type AS cur, CAST(COUNT(*) AS BIGINT) AS n
            FROM o WHERE prev IS NOT NULL GROUP BY prev, cur),
      t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM c)
      SELECT prev, cur, n, CAST(n * 1000000 // total AS BIGINT) AS share_ppm
      FROM c CROSS JOIN t ORDER BY n DESC, prev, cur LIMIT 20"""))

  /** p69 — k-core decomposition (k = 2, 3 peeling rounds) of the
    * co-purchase graph: iteratively drop nodes with degree < k and the
    * edges touching them — the standard dense-subgraph filter that
    * separates structurally-embedded nodes from tendrils (curation:
    * keep docs whose near-dup/citation neighborhoods are dense; spam
    * rings light up as cores too). Complements p17 (components), p52
    * (triangles), p61 (communities). Deterministic: synchronous peeling
    * is a pure function of the edge set, no tie-breaks at all.
    *
    * 100 TB shape: edges reuse p52's one-shuffle basket expansion; each
    * round is a degree aggregate + two semi-joins of the adjacency
    * against the (shrinking) survivor set on its key — the same
    * key-local join-per-round discipline as p61/p42, lineage pinned
    * between rounds. Round count fixed (3), plan depth bounded. k = 2
    * because the weight-2 co-purchase graph thins with sf (avg degree
    * 3.7 at sf0.01 → 1.2 at sf0.1+): the 3-core is empty from sf0.1 up,
    * while the 2-core stays non-trivial at every gated decade. The
    * oracle's iterated CTEs are MATERIALIZED — inlined, DuckDB re-derives
    * the pair join once per reference and the re-evaluation tree grows
    * exponentially with rounds (observed: 76 GB of spill at sf1 for a
    * 36k-edge graph; materialized, the same query runs in seconds).
    */
  private val p69 = Q(
    "p69_kcore",
    (s, d) => {
      import s.implicits._
      val byOrd = T(s, d, "lineitem").groupBy($"l_orderkey")
        .agg(sort_array(collect_set($"l_partkey")).as("pks"))
      val pairs = byOrd
        .select(posexplode($"pks").as(Seq("i", "u")), $"pks")
        .select($"u", explode(expr("slice(pks, i + 2, size(pks))")).as("v"))
      val e = pin(pairs.groupBy($"u", $"v").agg(count(lit(1)).as("cw"))
        .filter($"cw" >= 2).select($"u", $"v"))
      kcoreSurvivors(e, k = 2, rounds = 3)
        .orderBy($"deg".desc, $"node").limit(20)
    },
    Some("""
      WITH e AS MATERIALIZED (
        WITH bask AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        e0 AS (SELECT a.l_partkey AS u, b.l_partkey AS v
               FROM bask a JOIN bask b ON a.l_orderkey = b.l_orderkey
                AND a.l_partkey < b.l_partkey)
        SELECT u, v FROM e0 GROUP BY u, v HAVING COUNT(*) >= 2),
      adj0 AS MATERIALIZED (SELECT u AS n, v AS m FROM e UNION ALL
               SELECT v AS n, u AS m FROM e),
      d1 AS (SELECT n FROM adj0 GROUP BY n HAVING COUNT(*) >= 2),
      adj1 AS MATERIALIZED (SELECT a.n, a.m FROM adj0 a
               JOIN d1 x ON a.n = x.n JOIN d1 y ON a.m = y.n),
      d2 AS (SELECT n FROM adj1 GROUP BY n HAVING COUNT(*) >= 2),
      adj2 AS MATERIALIZED (SELECT a.n, a.m FROM adj1 a
               JOIN d2 x ON a.n = x.n JOIN d2 y ON a.m = y.n),
      d3 AS (SELECT n FROM adj2 GROUP BY n HAVING COUNT(*) >= 2),
      adj3 AS MATERIALIZED (SELECT a.n, a.m FROM adj2 a
               JOIN d3 x ON a.n = x.n JOIN d3 y ON a.m = y.n)
      SELECT n AS node, CAST(COUNT(*) AS BIGINT) AS deg
      FROM adj3 GROUP BY n ORDER BY deg DESC, node LIMIT 20"""))

  /** p70 — token-diversity (Gini impurity) score per document:
    * 1 − Σ(c_t/T)² expressed as the exact rational (T² − Σc_t²)·10⁶ ÷ T²
    * in integer ppm — low diversity = the repetition/boilerplate signal
    * (complements p23's adjacent-repetition rate: Gini catches GLOBAL
    * token skew — a page of one word repeated scores ~0 here even when
    * no two adjacent tokens repeat). Integer division again DIV ≡ //.
    *
    * 100 TB shape: tokenize-explode is the narrow codegen'd map every
    * text entry uses; both aggregates key on doc_id, so the second
    * reuses the first's partitioning (one shuffle); top-20 via
    * TakeOrdered.
    */
  private val p70 = Q(
    "p70_token_gini",
    (s, d) => {
      import s.implicits._
      T(s, d, "documents")
        .select($"doc_id", explode(split($"text", " ")).as("t"))
        .groupBy($"doc_id", $"t").agg(count(lit(1)).as("c"))
        .groupBy($"doc_id")
        .agg(sum($"c").as("n_tokens"), sum($"c" * $"c").as("sum_c2"))
        .select($"doc_id", $"n_tokens",
          expr("(n_tokens * n_tokens - sum_c2) * 1000000L DIV (n_tokens * n_tokens)")
            .as("gini_ppm"))
        .orderBy($"gini_ppm".desc, $"doc_id").limit(20)
    },
    Some("""
      WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t
                   FROM documents),
      tc AS (SELECT doc_id, t, CAST(COUNT(*) AS BIGINT) AS c
             FROM tok GROUP BY doc_id, t),
      g AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
              CAST(SUM(c*c) AS BIGINT) AS sum_c2 FROM tc GROUP BY doc_id)
      SELECT doc_id, n_tokens,
        CAST((n_tokens * n_tokens - sum_c2) * 1000000 // (n_tokens * n_tokens)
          AS BIGINT) AS gini_ppm
      FROM g ORDER BY gini_ppm DESC, doc_id LIMIT 20"""))

  /** p71 — MinHash estimator calibration: for every LSH candidate pair
    * (the p08 4×1 band topology), bucket by the number of matching
    * signature components (the MinHash Jaccard ESTIMATE, matches/k) and
    * report the exact shingle-Jaccard distribution inside each bucket —
    * the est-vs-truth audit that decides whether a signature length k is
    * long enough before a 100 TB dedup run commits to it. Integer core:
    * est_ppm = matches·250000, exact_ppm = |∩|·10⁶ DIV |∪|; the bucket
    * average is an integer division of exact sums.
    *
    * 100 TB shape: identical wide-op profile to p08 (band-bucket shuffle
    * generates candidates, the verify join touches candidate pairs only);
    * the calibration rollup partial-combines to ≤ k rows.
    */
  private val p71CallSeq = new java.util.concurrent.atomic.AtomicLong(0L)
  /** Per-pid tmp dir holding p71's per-call `call_n` signature pins. */
  private[graft] def p71PinBase: String = Replay.scratchDir("p71_sigs")

  private[graft] def p71Body(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val raw = sigsDf(s, d, 4)
    // Materialize the signature table once per call and read it back
    // (the p08 comment's "checkpoint to parquet"); unlike a
    // localCheckpoint, this hands the planner real size stats for the
    // verify joins. Each call gets its own `call_n` dir, never
    // overwritten: a frame from an earlier call keeps its resolved file
    // listing valid (DeterminismSpec holds two calls side by side).
    // Minting call_n deletes call_{n-2}, so at most two signature tables
    // stay on disk. The pid base is wiped once per JVM (stale pid reuse)
    // and deleted at exit.
    val n = p71CallSeq.getAndIncrement()
    if (n == 0L) Replay.scratch("p71_sigs")
    else if (n >= 2L) Replay.delete(s"$p71PinBase/call_${n - 2}")
    val dir = s"$p71PinBase/call_$n"
    raw.write.mode("overwrite").parquet(dir)
    // The schema just written: reading it back needs no inference job.
    val sigs = s.read.schema(raw.schema).parquet(dir)
    val cand = lshCandidates(sigs, bands = 4, rowsPerBand = 1)
    val a = sigs.select($"doc_id".as("id_a"), $"sh".as("sh_a"),
      $"m0".as("a0"), $"m1".as("a1"), $"m2".as("a2"), $"m3".as("a3"))
    val b = sigs.select($"doc_id".as("id_b"), $"sh".as("sh_b"),
      $"m0".as("b0"), $"m1".as("b1"), $"m2".as("b2"), $"m3".as("b3"))
    cand.join(a, "id_a").join(b, "id_b")
      .withColumn("matches", (0 until 4).map(i =>
        when(col(s"a$i") === col(s"b$i"), 1L).otherwise(0L)).reduce(_ + _))
      .withColumn("inter",
        size(array_intersect($"sh_a", $"sh_b")).cast(LongType))
      .withColumn("exact_ppm", expr(
        "inter * 1000000L DIV (size(sh_a) + size(sh_b) - inter)"))
      .groupBy($"matches")
      .agg(count(lit(1)).as("n_pairs"),
        expr("sum(exact_ppm) DIV count(1)").as("avg_exact_ppm"),
        min($"exact_ppm").as("min_exact_ppm"),
        max($"exact_ppm").as("max_exact_ppm"))
      .select($"matches", ($"matches" * lit(250000L)).as("est_ppm"),
        $"n_pairs", $"avg_exact_ppm", $"min_exact_ppm", $"max_exact_ppm")
      .orderBy($"matches")
  }

  private val p71 = Q(
    "p71_minhash_calibration",
    // The parquet pin (r15): the shingle+minhash expression is the entry's
    // heaviest per-row work and the un-pinned plan derived it FOUR times
    // (both band self-join sides + the two verify-join broadcast builds,
    // two of those feeding driver-side broadcast collection — the
    // measured source of this entry's run-to-run swings and its worst-on-
    // the-board core-scaling ratio). The signature table is materialized
    // ONCE per call to a per-pid tmp parquet dir (wiped and recomputed
    // from the inputs every invocation — nothing persists across runs)
    // and read back: this is the p08 comment's own "durable form of this
    // reuse is a checkpoint to parquet" at every scale — p71 is the
    // calibration AUDIT of that table, so materializing it is the
    // production shape — and unlike a localCheckpoint it hands the
    // planner real size stats for the verify joins. Probed at sf0.1 AND
    // sf1 against no-pin and localCheckpoint (OPTIMIZATION_r15.md):
    // equal-or-faster at both scales.
    (s, d) => p71Body(s, d),
    Some(s"""
      WITH $candCtesDuck,
      j AS (
        SELECT c.id_a, c.id_b,
          CAST((CASE WHEN sa.m0 = sb.m0 THEN 1 ELSE 0 END)
             + (CASE WHEN sa.m1 = sb.m1 THEN 1 ELSE 0 END)
             + (CASE WHEN sa.m2 = sb.m2 THEN 1 ELSE 0 END)
             + (CASE WHEN sa.m3 = sb.m3 THEN 1 ELSE 0 END) AS BIGINT) AS matches,
          CAST(length(list_filter(sa.sh, x -> list_contains(sb.sh, x)))
            AS BIGINT) AS inter,
          CAST(length(sa.sh) + length(sb.sh) AS BIGINT) AS tot
        FROM cand c JOIN sigs sa ON sa.doc_id = c.id_a
                    JOIN sigs sb ON sb.doc_id = c.id_b)
      SELECT matches, matches * 250000 AS est_ppm,
        CAST(COUNT(*) AS BIGINT) AS n_pairs,
        CAST(SUM(inter * 1000000 // (tot - inter)) // COUNT(*) AS BIGINT)
          AS avg_exact_ppm,
        CAST(MIN(inter * 1000000 // (tot - inter)) AS BIGINT) AS min_exact_ppm,
        CAST(MAX(inter * 1000000 // (tot - inter)) AS BIGINT) AS max_exact_ppm
      FROM j GROUP BY matches ORDER BY matches"""))

  /** p72 — shard-boundary overlap detection: boundary 3-grams where some
    * document's trailing tokens equal another document's leading tokens —
    * the signature of one text split across shard/page boundaries during
    * extraction (the stitching pass re-joins such pairs before dedup).
    * k = 3 for the same reason as p24's shingle k: the synthetic ~40-word
    * vocabulary makes longer verbatim boundaries never collide; real
    * deployments use k ≈ 8–16.
    *
    * 100 TB shape: one narrow map emits (prefix, suffix) per doc, two
    * partial-combined aggregates keyed on the gram, and the ender⋈starter
    * join is on gram-level rollups — output and join cardinality are
    * bounded by |vocab|ᵏ, never by corpus rows, so no doc-pair list is
    * ever materialized (contrast p08, whose pair output is the documented
    * quadratic scale-out exclusion).
    */
  private val p72 = Q(
    "p72_boundary_overlap",
    (s, d) => {
      import s.implicits._
      val b = T(s, d, "documents")
        .select($"doc_id", split($"text", " ").as("sp"))
        .select($"doc_id",
          array_join(slice($"sp", 1, 3), " ").as("pre"),
          array_join(slice($"sp", -3, 3), " ").as("suf"))
      val en = b.groupBy($"suf".as("g"))
        .agg(count(lit(1)).as("n_enders"), min($"doc_id").as("first_ender"))
      val st = b.groupBy($"pre".as("g"))
        .agg(count(lit(1)).as("n_starters"), min($"doc_id").as("first_starter"))
      en.join(st, "g")
        .select($"g", $"n_enders", $"first_ender", $"n_starters",
          $"first_starter")
        .orderBy($"g")
    },
    Some("""
      WITH t AS (SELECT doc_id, string_split(text, ' ') AS sp FROM documents),
      b AS (SELECT doc_id, array_to_string(sp[1:3], ' ') AS pre,
              array_to_string(sp[-3:], ' ') AS suf FROM t),
      en AS (SELECT suf AS g, CAST(COUNT(*) AS BIGINT) AS n_enders,
               MIN(doc_id) AS first_ender FROM b GROUP BY suf),
      st AS (SELECT pre AS g, CAST(COUNT(*) AS BIGINT) AS n_starters,
               MIN(doc_id) AS first_starter FROM b GROUP BY pre)
      SELECT g, n_enders, first_ender, n_starters, first_starter
      FROM en JOIN st USING (g) ORDER BY g"""))

  /** p73 — pairwise source divergence (χ² distance between per-source
    * unigram distributions, in ppm): the corpus-mixing audit that ranks
    * which sources are near-duplicates of each other distribution-wise
    * (merge candidates) vs genuinely diverse. Fully integer: per-source
    * token probabilities quantize to ppm by integer division, each shared
    * term contributes (pa−pb)² DIV (pa+pb), and tokens absent from the
    * other source contribute their full ppm mass via the per-source
    * quantized totals — so cross-engine sums are exact with zero float
    * accumulation.
    *
    * 100 TB shape: token counting is the p25 two-phase shuffle sized by
    * |sources|·|vocab|, not corpus rows; the source-pair join is keyed on
    * token over that vocab-sized rollup (≤ |vocab|·|sources|² rows);
    * per-source totals broadcast back. Corpus text is read exactly once.
    */
  private val p73 = Q(
    "p73_source_chi2",
    (s, d) => {
      import s.implicits._
      val tc = T(s, d, "documents")
        .select($"source", explode(split($"text", " ")).as("t"))
        .groupBy($"source", $"t").agg(count(lit(1)).as("c"))
      val tot = tc.groupBy($"source").agg(sum($"c").as("tot"))
      val ppm = tc.join(broadcast(tot), "source")
        .select($"source", $"t", expr("c * 1000000L DIV tot").as("p"))
      val ptot = ppm.groupBy($"source").agg(sum($"p").as("p_all"))
      val a = ppm.select($"source".as("sa"), $"t", $"p".as("pa"))
      val b = ppm.select($"source".as("sb"), $"t".as("tb"), $"p".as("pb"))
      val sh = a.join(b, a("t") === b("tb") && a("sa") < b("sb"))
        .groupBy($"sa", $"sb")
        .agg(sum(expr("((pa - pb) * (pa - pb)) DIV (pa + pb)"))
            .as("chi_shared"),
          sum($"pa").as("pa_sh"), sum($"pb").as("pb_sh"),
          count(lit(1)).as("n_shared"))
      sh.join(broadcast(ptot.select($"source".as("sa"), $"p_all".as("pa_all"))), "sa")
        .join(broadcast(ptot.select($"source".as("sb"), $"p_all".as("pb_all"))), "sb")
        .select($"sa", $"sb",
          ($"chi_shared" + ($"pa_all" - $"pa_sh") + ($"pb_all" - $"pb_sh"))
            .as("chi2_ppm"),
          $"n_shared")
        .orderBy($"sa", $"sb")
    },
    Some("""
      WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS t
                   FROM documents),
      tc AS (SELECT source, t, CAST(COUNT(*) AS BIGINT) AS c
             FROM tok GROUP BY source, t),
      tot AS (SELECT source, CAST(SUM(c) AS BIGINT) AS tot
              FROM tc GROUP BY source),
      ppm AS (SELECT tc.source, t, c * 1000000 // tot AS p
              FROM tc JOIN tot USING (source)),
      ptot AS (SELECT source, CAST(SUM(p) AS BIGINT) AS p_all
               FROM ppm GROUP BY source),
      sh AS (SELECT a.source AS sa, b.source AS sb,
               CAST(SUM(((a.p - b.p) * (a.p - b.p)) // (a.p + b.p))
                 AS BIGINT) AS chi_shared,
               CAST(SUM(a.p) AS BIGINT) AS pa_sh,
               CAST(SUM(b.p) AS BIGINT) AS pb_sh,
               CAST(COUNT(*) AS BIGINT) AS n_shared
             FROM ppm a JOIN ppm b ON a.t = b.t AND a.source < b.source
             GROUP BY a.source, b.source)
      SELECT sa, sb,
        CAST(chi_shared + (x.p_all - pa_sh) + (y.p_all - pb_sh) AS BIGINT)
          AS chi2_ppm,
        n_shared
      FROM sh JOIN ptot x ON x.source = sa JOIN ptot y ON y.source = sb
      ORDER BY sa, sb"""))

  /** p74 — label-centroid confusion matrix: assign every embedding to its
    * nearest per-label centroid and cross-tabulate (own label × nearest
    * label) — the cheap mislabel/label-noise audit run before training on
    * a labeled corpus. Exact cross-engine without a single accumulated
    * float: elements quantize to integer milli-units (the p66 pattern),
    * centroids stay as (element-sum vector S_L, count n_L), and the
    * squared distance to a centroid is computed n²-scaled —
    * D(v,L) = Σᵢ (n_L·vᵢ − S_L,i)² in DECIMAL(38,0) — so the only float
    * op is the final D/n² used for ORDERING (one IEEE division, identical
    * everywhere; ties break on the label id).
    *
    * 100 TB shape: centroid stats are a partial-combined aggregate to
    * |labels|·dim rows that broadcast back as |labels| rows; scoring is a
    * narrow broadcast nested-loop over |labels| candidates per row; the
    * argmin is a map-side min(struct) — one shuffle keyed by vec_id, then
    * a dozens-of-rows rollup.
    */
  private val p74 = Q(
    "p74_label_confusion",
    (s, d) => {
      import s.implicits._
      val e = T(s, d, "embeddings").filter(size($"embedding") === 64)
        .select($"vec_id", $"label", expr(
          """transform(embedding, x ->
               CAST(floor(CAST(x AS DOUBLE) * 1000.0D + 0.5D) AS BIGINT))""")
          .as("e3"))
      val cen = e.select($"label", posexplode($"e3").as(Seq("i", "x")))
        .groupBy($"label", $"i")
        .agg(sum($"x").as("s"), count(lit(1)).as("n"))
        .groupBy($"label")
        .agg(expr("transform(array_sort(collect_list(struct(i, s))), z -> z.s)")
            .as("cs"),
          max($"n").as("cn"))
        .select($"label".as("cand"), $"cs", $"cn")
      e.crossJoin(broadcast(cen))
        .withColumn("d2", expr(
          """aggregate(
               zip_with(e3, cs, (x, c) ->
                 CAST(cn * x - c AS DECIMAL(38,0)) *
                 CAST(cn * x - c AS DECIMAL(38,0))),
               CAST(0 AS DECIMAL(38,0)), (acc, v) -> acc + v)"""))
        .withColumn("ratio",
          $"d2".cast(DoubleType) / ($"cn" * $"cn").cast(DoubleType))
        .groupBy($"vec_id", $"label")
        .agg(min(struct($"ratio", $"cand")).as("m"))
        .groupBy($"label", $"m.cand".as("nearest"))
        .agg(count(lit(1)).as("n"))
        .orderBy($"label", $"nearest")
    },
    Some("""
      WITH e AS (SELECT vec_id, label, list_transform(embedding, x ->
                   CAST(floor(CAST(x AS DOUBLE) * 1000.0 + 0.5) AS BIGINT)) AS e3
                 FROM embeddings WHERE len(embedding) = 64),
      ex AS (SELECT vec_id, label, CAST(i AS INT) AS i,
               e3[CAST(i AS INT) + 1] AS x
             FROM e, UNNEST(range(0, 64)) t(i)),
      cen AS (SELECT label, list(s ORDER BY i) AS cs, MAX(n) AS cn FROM
                (SELECT label, i, CAST(SUM(x) AS BIGINT) AS s,
                   CAST(COUNT(*) AS BIGINT) AS n FROM ex GROUP BY label, i)
              GROUP BY label),
      dd AS (SELECT v.vec_id, v.label AS own, c.label AS cand,
               CAST(list_sum(list_transform(range(0, 64), k ->
                 CAST(c.cn * v.e3[CAST(k AS INT) + 1]
                      - c.cs[CAST(k AS INT) + 1] AS DECIMAL(38,0))
                 * CAST(c.cn * v.e3[CAST(k AS INT) + 1]
                        - c.cs[CAST(k AS INT) + 1] AS DECIMAL(38,0))))
                 AS DECIMAL(38,0)) AS d2,
               c.cn AS cn
             FROM e v CROSS JOIN cen c),
      nn AS (SELECT vec_id, own, cand,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                 ORDER BY CAST(d2 AS DOUBLE) / (CAST(cn AS DOUBLE) * cn),
                          cand) AS rk
             FROM dd)
      SELECT own AS label, cand AS nearest, CAST(COUNT(*) AS BIGINT) AS n
      FROM nn WHERE rk = 1 GROUP BY own, cand ORDER BY label, nearest"""))

  /** p75 — token-budget epoch allocation (water-filling under a repeat
    * cap): given a global token budget of half the corpus and
    * temperature-smoothed per-source weights (the p67 √-recipe), allocate
    * quota proportionally, cap any source at 0.5 epochs, and redistribute
    * the capped surplus to uncapped sources in one round — the "how many
    * epochs of each source under the compute budget" step of a training
    * data recipe. Every share is an integer DIV; the one double is p67's
    * IEEE sqrt pinned to milli-units.
    *
    * 100 TB shape: one map-side-combined aggregate to |sources| rows; the
    * global totals and the redistribution totals broadcast back as single
    * rows. The corpus is read once; nothing wide ever shuffles.
    */
  private val p75 = Q(
    "p75_budget_epochs",
    (s, d) => {
      import s.implicits._
      val w = T(s, d, "documents").groupBy($"source")
        .agg(sum(size(split($"text", " ")).cast(LongType)).as("toks"))
        .withColumn("w_milli", expr(
          "CAST(floor(sqrt(CAST(toks AS DOUBLE)) * 1000.0D + 0.5D) AS BIGINT)"))
      val g = w.agg(sum($"toks").as("tot"), sum($"w_milli").as("w_tot"))
      val a1 = w.crossJoin(broadcast(g))
        .withColumn("alloc0", expr("(tot DIV 2) * w_milli DIV w_tot"))
        .withColumn("cap_toks", expr("toks * 500000L DIV 1000000L"))
        .withColumn("capped",
          when($"alloc0" > $"cap_toks", 1L).otherwise(0L))
        .withColumn("quota1",
          when($"alloc0" > $"cap_toks", $"cap_toks").otherwise($"alloc0"))
      val l = a1.agg(
        sum(when($"capped" === 0, $"w_milli").otherwise(0L)).as("w_unc"),
        (max($"tot").cast(LongType) / lit(2L)).cast(LongType)
          .minus(sum($"quota1")).as("leftover"))
      a1.crossJoin(broadcast(l))
        .withColumn("quota_final", $"quota1" +
          when($"capped" === 0 && $"w_unc" > 0,
            expr("leftover * w_milli DIV w_unc")).otherwise(0L))
        .withColumn("epochs_ppm", expr("quota_final * 1000000L DIV toks"))
        .select($"source", $"toks", $"alloc0", $"capped", $"quota_final",
          $"epochs_ppm")
        .orderBy($"source")
    },
    Some("""
      WITH ts AS (SELECT source,
              CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS toks
            FROM documents GROUP BY source),
      w AS (SELECT source, toks,
              CAST(floor(sqrt(CAST(toks AS DOUBLE)) * 1000.0 + 0.5) AS BIGINT)
                AS w_milli FROM ts),
      g AS (SELECT CAST(SUM(toks) AS BIGINT) AS tot,
              CAST(SUM(w_milli) AS BIGINT) AS w_tot FROM w),
      a1 AS (SELECT source, toks, w_milli,
               (g.tot // 2) * w_milli // g.w_tot AS alloc0,
               toks * 500000 // 1000000 AS cap_toks,
               CASE WHEN (g.tot // 2) * w_milli // g.w_tot
                    > toks * 500000 // 1000000 THEN 1 ELSE 0 END AS capped
             FROM w CROSS JOIN g),
      a2 AS (SELECT *, CASE WHEN capped = 1 THEN cap_toks ELSE alloc0 END
               AS quota1 FROM a1),
      l AS (SELECT CAST(SUM(CASE WHEN capped = 0 THEN w_milli ELSE 0 END)
                AS BIGINT) AS w_unc,
              (SELECT tot // 2 FROM g) - CAST(SUM(quota1) AS BIGINT)
                AS leftover
            FROM a2)
      SELECT source, toks, CAST(alloc0 AS BIGINT) AS alloc0,
        CAST(capped AS BIGINT) AS capped,
        CAST(quota1 + CASE WHEN capped = 0 AND l.w_unc > 0
               THEN l.leftover * w_milli // l.w_unc ELSE 0 END AS BIGINT)
          AS quota_final,
        CAST((quota1 + CASE WHEN capped = 0 AND l.w_unc > 0
                THEN l.leftover * w_milli // l.w_unc ELSE 0 END)
             * 1000000 // toks AS BIGINT) AS epochs_ppm
      FROM a2 CROSS JOIN l ORDER BY source"""))

  /** p76 — cross-source template/copy matrix: for every source pair, how
    * many identical 10-token document OPENINGS they share (md5 of the
    * head) — the verbatim-boilerplate complement of p73's
    * distribution-level divergence (shared scraper templates, syndicated
    * headers, and mirror sites show up here long before whole-document
    * fingerprints collide; p02/p01 found zero full-text cross-source
    * copies in this corpus while 10-token heads collide 22 ways at
    * sf0.01).
    *
    * 100 TB shape: one shuffle keyed by head digest to a (digest, source)
    * rollup — the pair expansion happens on that rollup, bounded by
    * C(|sources|, 2) per digest, never on documents; the final matrix
    * partial-combines to ≤ |sources|² rows.
    */
  private val p76 = Q(
    "p76_copy_matrix",
    (s, d) => {
      import s.implicits._
      val fp = T(s, d, "documents")
        .groupBy(md5(array_join(slice(split($"text", " "), 1, 10), " "))
            .as("f"),
          $"source")
        .agg(count(lit(1)).as("n_docs"), min($"doc_id").as("first_doc"))
      val a = fp.select($"f", $"source".as("sa"), $"n_docs".as("na"),
        $"first_doc".as("fa"))
      val b = fp.select($"f".as("f2"), $"source".as("sb"),
        $"n_docs".as("nb"), $"first_doc".as("fb"))
      a.join(b, a("f") === b("f2") && a("sa") < b("sb"))
        .groupBy($"sa", $"sb")
        .agg(count(lit(1)).as("n_shared_heads"),
          sum($"na").as("n_docs_a"), sum($"nb").as("n_docs_b"),
          min($"fa").as("example_a"), min($"fb").as("example_b"))
        .orderBy($"sa", $"sb")
    },
    Some("""
      WITH fp AS (SELECT
              md5(array_to_string(string_split(text, ' ')[1:10], ' ')) AS f,
              source, CAST(COUNT(*) AS BIGINT) AS n_docs,
              MIN(doc_id) AS first_doc
            FROM documents GROUP BY 1, 2)
      SELECT a.source AS sa, b.source AS sb,
        CAST(COUNT(*) AS BIGINT) AS n_shared_heads,
        CAST(SUM(a.n_docs) AS BIGINT) AS n_docs_a,
        CAST(SUM(b.n_docs) AS BIGINT) AS n_docs_b,
        MIN(a.first_doc) AS example_a, MIN(b.first_doc) AS example_b
      FROM fp a JOIN fp b ON a.f = b.f AND a.source < b.source
      GROUP BY 1, 2 ORDER BY sa, sb"""))

  /** p77 — SimHash near-neighbor search via banding (the Manku/Google
    * dedup topology): split the 60-bit p09 fingerprint into 4 bands of 15
    * bits; docs matching on ANY band become candidate pairs; verify with
    * the exact Hamming distance (bit_count of xor). Complements p08/p15:
    * MinHash-LSH approximates SET similarity, SimHash banding approximates
    * per-bit fingerprint proximity — the two production near-dup routes.
    *
    * 100 TB shape: one shuffle keyed by (band, band_value) — identical to
    * the MinHash band-bucket topology — with the p15 block-cap answer
    * applied FROM THE START: each band bucket keeps its first 64 docs (by
    * doc_id — deterministic, both engines), so candidate pairs are bounded
    * at C(64,2) per bucket and total output stays linear in bucket count
    * no matter how hot a template bucket gets (this synthetic small-vocab
    * corpus makes ~14% of random pairs collide on a band — exactly the
    * pathology the cap exists for). Only verified near-dups (Hamming ≤ 18
    * over the 60-bit fingerprint) are emitted; the verify is narrow
    * codegen on two longs (no text past the fingerprint scan).
    */
  private val p77 = Q(
    "p77_simhash_neighbors",
    (s, d) => {
      import s.implicits._
      val sh = T(s, d, "documents")
        .select($"doc_id", VectorFunctions.simhash60(tokenHashes($"text")).as("sh"))
      val wB = Window.partitionBy($"j", $"band_val").orderBy($"doc_id")
      val bands = sh
        .select($"doc_id", $"sh", explode(sequence(lit(0), lit(3))).as("j"))
        .withColumn("band_val",
          expr("shiftright(sh, CAST(j * 15 AS INT)) & 32767"))
        .withColumn("rk", row_number().over(wB))
        .filter($"rk" <= 64)
      val a = bands.select($"j", $"band_val",
        $"doc_id".as("id_a"), $"sh".as("sh_a"))
      val b = bands.select($"j".as("j2"), $"band_val".as("bv2"),
        $"doc_id".as("id_b"), $"sh".as("sh_b"))
      a.join(b, $"j" === $"j2" && $"band_val" === $"bv2" && $"id_a" < $"id_b")
        .select($"id_a", $"id_b", $"sh_a", $"sh_b").distinct()
        .select($"id_a", $"id_b",
          expr("CAST(bit_count(sh_a ^ sh_b) AS INT)").as("hamming"))
        .filter($"hamming" <= 18)
        .orderBy($"id_a", $"id_b")
    },
    Some("""
      WITH th AS (
        SELECT doc_id,
          list_transform(list_distinct(string_split(text, ' ')),
                         t -> ('0x' || substr(md5(t), 1, 15))::BIGINT) AS hs
        FROM documents),
      shq AS (
        SELECT doc_id,
          list_sum(list_transform(range(0, 60), j ->
            CASE WHEN list_sum(list_transform(hs, h ->
                   CASE WHEN (h >> j) % 2 = 1 THEN 1 ELSE -1 END)) >= 0
            THEN (1::BIGINT << j) ELSE 0::BIGINT END))::BIGINT AS sh
        FROM th),
      bands AS (
        SELECT * FROM (
          SELECT doc_id, sh, g.j, (sh >> (15 * g.j)) & 32767 AS band_val,
            row_number() OVER (PARTITION BY g.j, (sh >> (15 * g.j)) & 32767
                               ORDER BY doc_id) AS rk
          FROM shq CROSS JOIN generate_series(0, 3) g(j)) WHERE rk <= 64),
      cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
          a.sh AS sh_a, b.sh AS sh_b
        FROM bands a JOIN bands b
          ON a.j = b.j AND a.band_val = b.band_val AND a.doc_id < b.doc_id)
      SELECT id_a, id_b, CAST(bit_count(xor(sh_a, sh_b)) AS INT) AS hamming
      FROM cand
      WHERE bit_count(xor(sh_a, sh_b)) <= 18
      ORDER BY id_a, id_b"""))

  /** p78 — ANN recall audit: recall@10 of the LSH route (p12's
    * signed-random-projection buckets) against the exact brute-force
    * top-10 (p10), over a fixed 10-query panel (vec_id 0..9) — the
    * calibration every approximate index needs BEFORE a 100 TB build
    * commits to it (the embedding analogue of p71's MinHash estimator
    * audit).
    *
    * 100 TB shape: the query panel is constant-size and broadcasts; the
    * corpus is scanned once, scored narrow against all 10 queries; the
    * exact top-10 per query runs through the native TopKPerKey operator
    * (bounded heap per key — no per-query full sort); the LSH side touches
    * only bucket-mates. Output is 10 rows.
    */
  private val p78 = Q(
    "p78_ann_recall",
    (s, d) => {
      import s.implicits._
      val emb = T(s, d, "embeddings")
      val qs = emb.filter($"vec_id" < 10)
        .select($"vec_id".as("qid"), $"embedding".as("qvec"),
          VectorFunctions.lsh_bucket($"embedding").as("qbucket"))
      val corpus = emb.filter($"vec_id" >= 10)
        .select($"vec_id", $"embedding",
          VectorFunctions.lsh_bucket($"embedding").as("bucket"))
      val scored = corpus.crossJoin(broadcast(qs))
        .select($"qid", $"vec_id", $"bucket", $"qbucket",
          dec(VectorFunctions.cosine_similarity($"embedding", $"qvec"), 18, 6)
            .as("cos_sim"))
      val brute = graft.plans.TopK.perKey(scored,
          Seq($"qid"), Seq($"cos_sim".desc, $"vec_id".asc), 10)
        .select($"qid", $"vec_id")
      val inBucket = scored.filter($"bucket" === $"qbucket")
      val approx = graft.plans.TopK.perKey(inBucket,
          Seq($"qid"), Seq($"cos_sim".desc, $"vec_id".asc), 10)
        .select($"qid".as("aqid"), $"vec_id".as("avid"))
      val cand = inBucket.groupBy($"qid")
        .agg(count(lit(1)).as("n_candidates"))
      // the top-10 sets and per-query rollups are ≤ 10·|panel| rows —
      // pin them broadcast so no stage shuffles on their account
      val hits = brute.join(broadcast(approx),
          $"qid" === $"aqid" && $"vec_id" === $"avid")
        .groupBy($"qid").agg(count(lit(1)).as("n_hits"))
      qs.select($"qid")
        .join(broadcast(cand), Seq("qid"), "left_outer")
        .join(broadcast(hits), Seq("qid"), "left_outer")
        .select($"qid",
          coalesce($"n_candidates", lit(0L)).as("n_candidates"),
          coalesce($"n_hits", lit(0L)).as("n_hits"),
          (coalesce($"n_hits", lit(0L)) * 100000L).as("recall_ppm"))
        .orderBy($"qid")
    },
    Some(s"""
      WITH b AS (SELECT vec_id, embedding,
                   ${lshBucketDuck("embedding")} AS bucket FROM embeddings),
      q AS (SELECT vec_id AS qid, embedding AS qvec, bucket AS qbucket
            FROM b WHERE vec_id < 10),
      c AS (SELECT vec_id, embedding, bucket FROM b WHERE vec_id >= 10),
      scored AS (
        SELECT q.qid, c.vec_id, c.bucket, q.qbucket,
          CAST(${foldDotDuck("c.embedding", "q.qvec")} /
               (sqrt(${foldDotDuck("c.embedding", "c.embedding")}) *
                sqrt(${foldDotDuck("q.qvec", "q.qvec")})) AS DECIMAL(18,6))
            AS cos_sim
        FROM c CROSS JOIN q),
      brute AS (
        SELECT qid, vec_id FROM (
          SELECT qid, vec_id, row_number() OVER
            (PARTITION BY qid ORDER BY cos_sim DESC, vec_id) AS rk
          FROM scored) WHERE rk <= 10),
      ib AS (SELECT * FROM scored WHERE bucket = qbucket),
      approx AS (
        SELECT qid, vec_id FROM (
          SELECT qid, vec_id, row_number() OVER
            (PARTITION BY qid ORDER BY cos_sim DESC, vec_id) AS rk
          FROM ib) WHERE rk <= 10),
      cand AS (SELECT qid, CAST(COUNT(*) AS BIGINT) AS n_candidates
               FROM ib GROUP BY qid),
      hits AS (SELECT br.qid, CAST(COUNT(*) AS BIGINT) AS n_hits
               FROM brute br JOIN approx a
                 ON a.qid = br.qid AND a.vec_id = br.vec_id
               GROUP BY br.qid)
      SELECT q.qid,
        CAST(COALESCE(cand.n_candidates, 0) AS BIGINT) AS n_candidates,
        CAST(COALESCE(hits.n_hits, 0) AS BIGINT) AS n_hits,
        CAST(COALESCE(hits.n_hits, 0) * 100000 AS BIGINT) AS recall_ppm
      FROM q LEFT JOIN cand ON cand.qid = q.qid
             LEFT JOIN hits ON hits.qid = q.qid
      ORDER BY q.qid"""))

  /** p79 — shuffle-shard assignment: the terminal step of every
    * pretraining pipeline — give each document a deterministic
    * pseudo-random position and a shard, then audit shard balance. The
    * "random" order is a multiplicative hash of doc_id (odd constant mod
    * 2^32 → bijective for our id range, so positions are tie-free and the
    * permutation is a pure function of the row — reproducible across
    * engines, runs, and repartitioning; no RNG).
    *
    * 100 TB shape: shard = h % 16 is narrow (NO global sort — a global
    * rank would serialize on one reducer); the within-shard order is a
    * per-shard window, parallel across shards, range-partitionable within
    * one if a shard itself outgrows a task. Output: 16 balance rows with
    * the first-3 write order proven cross-engine.
    */
  private val p79 = Q(
    "p79_shuffle_shards",
    (s, d) => {
      import s.implicits._
      val docs = T(s, d, "documents")
        .select($"doc_id",
          size(split($"text", " ")).cast(LongType).as("n_tok"))
        .withColumn("h", ($"doc_id" * lit(2654435761L)) % lit(4294967296L))
        .withColumn("shard", ($"h" % 16).cast(IntegerType))
      val w = Window.partitionBy($"shard").orderBy($"h", $"doc_id")
      val pos = docs.withColumn("pos", row_number().over(w))
      val head3 = pos.filter($"pos" <= 3)
        .groupBy($"shard")
        .agg(array_join(transform(array_sort(collect_list(struct($"pos",
            $"doc_id"))), x => x.getField("doc_id").cast(StringType)), ",")
          .as("first3"))
      pos.groupBy($"shard")
        .agg(count(lit(1)).as("n_docs"), sum($"n_tok").as("sum_tokens"),
          min($"h").as("min_h"), max($"h").as("max_h"))
        .join(head3, Seq("shard"))
        .orderBy($"shard")
    },
    Some("""
      WITH dh AS (
        SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
          (doc_id * 2654435761) % 4294967296 AS h
        FROM documents),
      sh AS (SELECT *, CAST(h % 16 AS INT) AS shard,
               row_number() OVER (PARTITION BY h % 16 ORDER BY h, doc_id)
                 AS pos
             FROM dh),
      h3 AS (SELECT shard,
               string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY pos)
                 AS first3
             FROM sh WHERE pos <= 3 GROUP BY shard)
      SELECT sh.shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(n_tok) AS BIGINT) AS sum_tokens,
        MIN(h) AS min_h, MAX(h) AS max_h, ANY_VALUE(h3.first3) AS first3
      FROM sh JOIN h3 ON h3.shard = sh.shard
      GROUP BY sh.shard ORDER BY sh.shard"""))

  /** p80 — curriculum phase assignment: order documents by a difficulty
    * proxy (type-token ratio in exact ppm — low repetition reads as
    * "harder") and cut each SOURCE into 4 equal phases with ntile; report
    * per-(source, phase) volume so a training scheduler can feed phases in
    * order. Per-source (not global) quantiles keep the window partitioned —
    * a global ntile would serialize the corpus through one reducer; the
    * per-domain curriculum is also the form the data-mixing literature
    * actually uses.
    *
    * 100 TB shape: one window partitioned by source (parallel across
    * sources; range-partition within a source if one dominates), then a
    * (source, phase) rollup that partial-aggregates map-side.
    */
  private val p80 = Q(
    "p80_curriculum_phases",
    (s, d) => {
      import s.implicits._
      val scored = T(s, d, "documents")
        .select($"doc_id", $"source",
          size(split($"text", " ")).cast(LongType).as("n_tok"),
          size(array_distinct(split($"text", " "))).cast(LongType)
            .as("n_distinct"))
        .withColumn("score_ppm", expr("n_distinct * 1000000L DIV n_tok"))
      val w = Window.partitionBy($"source").orderBy($"score_ppm", $"doc_id")
      scored.withColumn("phase", ntile(4).over(w))
        .groupBy($"source", $"phase")
        .agg(count(lit(1)).as("n_docs"), sum($"n_tok").as("sum_tokens"),
          min($"score_ppm").as("min_score"), max($"score_ppm").as("max_score"))
        .orderBy($"source", $"phase")
    },
    Some("""
      WITH sc AS (
        SELECT doc_id, source,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
          CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
            AS n_distinct
        FROM documents),
      ph AS (
        SELECT *, n_distinct * 1000000 // n_tok AS score_ppm
        FROM sc),
      np AS (
        SELECT source, n_tok, score_ppm,
          ntile(4) OVER (PARTITION BY source ORDER BY score_ppm, doc_id)
            AS phase
        FROM ph)
      SELECT source, CAST(phase AS INT) AS phase,
        CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(n_tok) AS BIGINT) AS sum_tokens,
        MIN(score_ppm) AS min_score, MAX(score_ppm) AS max_score
      FROM np GROUP BY source, phase ORDER BY source, phase"""))

  /** p81 — dedup attrition funnel: per-source retention through two dedup
    * stages — exact content dedup (keep global min doc_id per md5(text),
    * the p01 rule), then template-head dedup on the survivors (keep min
    * per 10-token-opening digest, the p76 fingerprint) — the "which
    * sources lose how much to dedup" attribution report every corpus
    * curation run publishes.
    *
    * 100 TB shape: two digest-keyed windows (the canonical dedup
    * shuffles — text never travels past its digests) and one source
    * rollup; retention ratios are exact integer ppm.
    */
  private val p81 = Q(
    "p81_dedup_attrition",
    (s, d) => {
      import s.implicits._
      val base = T(s, d, "documents")
        .select($"doc_id", $"source", md5($"text").as("dg"),
          md5(array_join(slice(split($"text", " "), 1, 10), " ")).as("hg"))
      val s1 = base.withColumn("keep1",
        when(min($"doc_id").over(Window.partitionBy($"dg")) === $"doc_id", 1L)
          .otherwise(0L))
      val s2 = s1.filter($"keep1" === 1L).withColumn("keep2",
        when(min($"doc_id").over(Window.partitionBy($"hg")) === $"doc_id", 1L)
          .otherwise(0L))
        .groupBy($"source").agg(sum($"keep2").as("n2"))
      s1.groupBy($"source")
        .agg(count(lit(1)).as("n0"), sum($"keep1").as("n1"))
        .join(s2, Seq("source"), "left_outer")
        .select($"source", $"n0", $"n1",
          coalesce($"n2", lit(0L)).as("n2"),
          expr("n1 * 1000000L DIV n0").as("ret1_ppm"),
          expr("coalesce(n2, 0L) * 1000000L DIV n0").as("ret2_ppm"))
        .orderBy($"source")
    },
    Some("""
      WITH base AS (
        SELECT doc_id, source, md5(text) AS dg,
          md5(array_to_string(string_split(text, ' ')[1:10], ' ')) AS hg
        FROM documents),
      s1 AS (
        SELECT *, CASE WHEN MIN(doc_id) OVER (PARTITION BY dg) = doc_id
                  THEN 1 ELSE 0 END AS keep1
        FROM base),
      k2 AS (
        SELECT source,
          CASE WHEN MIN(doc_id) OVER (PARTITION BY hg) = doc_id
               THEN 1 ELSE 0 END AS keep2
        FROM (SELECT * FROM s1 WHERE keep1 = 1)),
      s2 AS (
        SELECT source, CAST(SUM(keep2) AS BIGINT) AS n2
        FROM k2 GROUP BY source),
      r AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n0,
          CAST(SUM(keep1) AS BIGINT) AS n1
        FROM s1 GROUP BY source)
      SELECT r.source, r.n0, r.n1,
        CAST(COALESCE(s2.n2, 0) AS BIGINT) AS n2,
        r.n1 * 1000000 // r.n0 AS ret1_ppm,
        COALESCE(s2.n2, 0) * 1000000 // r.n0 AS ret2_ppm
      FROM r LEFT JOIN s2 ON s2.source = r.source
      ORDER BY r.source"""))

  /** p82 — prefix-containment dedup audit: documents that are a strict
    * token-prefix of a LONGER document (truncated rescrapes, partial
    * mirrors — invisible to exact dedup and to head-template counting
    * because the CONTAINER also shares the head). Blocking: pairs are only
    * tested within equal 10-token-opening digests (a prefix of ≥10 tokens
    * forces equal heads), so the verify join is bounded by head-group
    * sizes, never |docs|².
    *
    * 100 TB shape: one shuffle on the head digest; the startswith verify
    * runs inside blocks only; per-source rollup partial-aggregates. Hot
    * template heads (the p76 finding) are exactly the skew the p15 cap +
    * salt answer handles if a block explodes.
    *
    * Scale contract (same as p13/p89): within-block pairs square with the
    * replica factor — target/sf10's 100-way key-offset families square
    * the head blocks — so this entry is gated through sf1 and EXCLUDED
    * from decade scale-ups by contract; the production form routes
    * oversized blocks through the p15 capped representative star — that
    * form is GATED AT EVERY SF as its own entry, p82_capped below.
    */
  private val p82 = Q(
    "p82_prefix_contain",
    (s, d) => {
      import s.implicits._
      val dd = T(s, d, "documents")
        .select($"doc_id", $"source", $"text", $"n_chars",
          md5(array_join(slice(split($"text", " "), 1, 10), " ")).as("hg"))
      val a = dd.select($"hg", $"doc_id".as("id_a"), $"source".as("src_a"),
        $"text".as("t_a"), $"n_chars".as("c_a"))
      val b = dd.select($"hg".as("hg2"), $"doc_id".as("id_b"),
        $"text".as("t_b"), $"n_chars".as("c_b"))
      val pairs = a.join(b,
          $"hg" === $"hg2" && $"c_b" > $"c_a" &&
            expr("startswith(t_b, concat(t_a, ' '))"))
        .groupBy($"src_a")
        .agg(countDistinct($"id_a").as("n_contained"),
          count(lit(1)).as("n_pairs"))
      T(s, d, "documents").groupBy($"source")
        .agg(count(lit(1)).as("n_docs"))
        .join(pairs, $"source" === $"src_a", "left_outer")
        .select($"source", $"n_docs",
          coalesce($"n_contained", lit(0L)).as("n_contained"),
          coalesce($"n_pairs", lit(0L)).as("n_pairs"))
        .orderBy($"source")
    },
    Some("""
      WITH dd AS (
        SELECT doc_id, source, text, n_chars,
          md5(array_to_string(string_split(text, ' ')[1:10], ' ')) AS hg
        FROM documents),
      pr AS (
        SELECT a.source AS src_a,
          CAST(COUNT(DISTINCT a.doc_id) AS BIGINT) AS n_contained,
          CAST(COUNT(*) AS BIGINT) AS n_pairs
        FROM dd a JOIN dd b
          ON a.hg = b.hg AND b.n_chars > a.n_chars
         AND starts_with(b.text, a.text || ' ')
        GROUP BY a.source)
      SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(COALESCE(ANY_VALUE(pr.n_contained), 0) AS BIGINT) AS n_contained,
        CAST(COALESCE(ANY_VALUE(pr.n_pairs), 0) AS BIGINT) AS n_pairs
      FROM documents d LEFT JOIN pr ON pr.src_a = d.source
      GROUP BY d.source ORDER BY d.source"""))

  /** p82_capped — prefix-containment through the CAPPED block route: the
    * decade-scale production form of p82 (whose exact within-block verify
    * squares with the replica factor and is excluded from sf10 by
    * contract). Same head-digest blocking, but candidate pairs come from
    * [[cappedBlockPairs]] — exact all-pairs for blocks ≤ cap,
    * representative-star via the 1-row MinHash sub-key for oversized
    * blocks — so pair count is bounded ~linearly at ANY corpus size.
    * Within capped blocks the result equals p82 exactly; inside an
    * oversized block recall degrades to containments that touch the
    * sub-bucket representative (the same documented trade as p15/p16).
    * The oracle mirrors the cap EXACTLY, so the gate holds at every sf —
    * this is the sf10-board row p82's contract note pointed at.
    *
    * Candidate pairs carry doc_ids ONLY through the window + salt chain;
    * texts rejoin by id afterwards (p16's rejoin lesson — carrying text
    * through the salted explode copies every payload nsalt+2 times).
    * Containment is direction-resolved AFTER pairing: an unordered
    * candidate (a,b) yields a contained-row for whichever side is the
    * strict token-prefix of the other (both directions can't hold — the
    * lengths are strict).
    */
  private val p82c = Q(
    "p82_capped_prefix_contain",
    (s, d) => {
      import s.implicits._
      val dd = T(s, d, "documents")
        .select($"doc_id", $"source", $"text", $"n_chars",
          md5(array_join(slice(split($"text", " "), 1, 10), " ")).as("hg"))
      val txt = dd.select($"doc_id", $"text", $"n_chars", $"source")
      val cand = cappedBlockPairs(dd, Seq("hg"), Seq(), DefaultBlockCap)
        .join(txt.select($"doc_id".as("jid_a"), $"text".as("t_a"),
          $"n_chars".as("c_a"), $"source".as("s_a")), $"id_a" === $"jid_a")
        .join(txt.select($"doc_id".as("jid_b"), $"text".as("t_b"),
          $"n_chars".as("c_b"), $"source".as("s_b")), $"id_b" === $"jid_b")
      val fwd = cand.select($"id_a".as("cid"), $"s_a".as("csrc"),
        $"t_a".as("ct"), $"c_a".as("cc"), $"t_b".as("bt"), $"c_b".as("bc"))
      val rev = cand.select($"id_b".as("cid"), $"s_b".as("csrc"),
        $"t_b".as("ct"), $"c_b".as("cc"), $"t_a".as("bt"), $"c_a".as("bc"))
      val pr = fwd.unionAll(rev)
        .filter($"bc" > $"cc" && expr("startswith(bt, concat(ct, ' '))"))
        .groupBy($"csrc")
        .agg(countDistinct($"cid").as("n_contained"),
          count(lit(1)).as("n_pairs"))
      T(s, d, "documents").groupBy($"source")
        .agg(count(lit(1)).as("n_docs"))
        .join(pr, $"source" === $"csrc", "left_outer")
        .select($"source", $"n_docs",
          coalesce($"n_contained", lit(0L)).as("n_contained"),
          coalesce($"n_pairs", lit(0L)).as("n_pairs"))
        .orderBy($"source")
    },
    Some(s"""
      WITH d0 AS (
        SELECT doc_id, source, text, n_chars,
          md5(array_to_string(string_split(text, ' ')[1:10], ' ')) AS hg
        FROM documents),
      d AS (SELECT *, COUNT(*) OVER (PARTITION BY hg) AS blk_n FROM d0),
      small AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.text AS ta, b.text AS tb,
               a.n_chars AS ca, b.n_chars AS cb, a.source AS sa, b.source AS sb
        FROM d a JOIN d b ON a.hg = b.hg AND a.doc_id < b.doc_id
        WHERE a.blk_n <= $DefaultBlockCap),
      bigsub AS (
        SELECT *, list_min(list_transform($shinglesSqlDuck,
            sg -> ('0x' || substr(md5(sg), 1, 15))::BIGINT)) AS sub
        FROM d WHERE blk_n > $DefaultBlockCap),
      big AS (
        SELECT *, MIN(doc_id) OVER (PARTITION BY hg, sub) AS rep_id
        FROM bigsub),
      bigp AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.text AS ta, b.text AS tb,
               a.n_chars AS ca, b.n_chars AS cb, a.source AS sa, b.source AS sb
        FROM big a JOIN big b ON a.doc_id = b.rep_id AND b.doc_id > b.rep_id),
      pairs AS (SELECT * FROM small UNION ALL SELECT * FROM bigp),
      contained AS (
        SELECT id_a AS cid, sa AS csrc FROM pairs
        WHERE cb > ca AND starts_with(tb, ta || ' ')
        UNION ALL
        SELECT id_b, sb FROM pairs
        WHERE ca > cb AND starts_with(ta, tb || ' ')),
      pr AS (SELECT csrc, CAST(COUNT(DISTINCT cid) AS BIGINT) AS n_contained,
               CAST(COUNT(*) AS BIGINT) AS n_pairs
             FROM contained GROUP BY csrc)
      SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(COALESCE(ANY_VALUE(pr.n_contained), 0) AS BIGINT) AS n_contained,
        CAST(COALESCE(ANY_VALUE(pr.n_pairs), 0) AS BIGINT) AS n_pairs
      FROM documents d LEFT JOIN pr ON pr.csrc = d.source
      GROUP BY d.source ORDER BY d.source"""))

  /** p83 — quality-filter bias audit: compare a single GLOBAL quality
    * threshold (score above the corpus mean — the naive filter) against a
    * per-source top-decile rule, per source. A global cut over/under-
    * selects whole sources whose score distributions sit above/below the
    * corpus mean (the classic low-resource-language bias in corpus
    * filtering); the per-source decile is calibration-free. All exact
    * integer: the global rule is the cross-multiply score·N ≥ Σscore (no
    * mean division), the decile rule is rank·10 ≤ n_source.
    *
    * 100 TB shape: the global threshold is ONE broadcast scalar row; the
    * decile rank is a window partitioned by source (parallel across
    * sources — no global sort anywhere); one (source) rollup.
    */
  private val p83 = Q(
    "p83_filter_bias",
    (s, d) => {
      import s.implicits._
      val scored = T(s, d, "documents")
        .select($"doc_id", $"source",
          size(split($"text", " ")).cast(LongType).as("n_tok"),
          size(array_distinct(split($"text", " "))).cast(LongType)
            .as("n_distinct"))
        .withColumn("score_ppm", expr("n_distinct * 1000000L DIV n_tok"))
      val tot = scored.agg(count(lit(1)).as("n_total"),
        sum($"score_ppm").as("sum_score"))
      val w = Window.partitionBy($"source")
        .orderBy($"score_ppm".desc, $"doc_id")
      scored.crossJoin(broadcast(tot))
        .withColumn("sel_global",
          when($"score_ppm" * $"n_total" >= $"sum_score", 1L).otherwise(0L))
        .withColumn("rk", row_number().over(w))
        .withColumn("n_src", count(lit(1)).over(Window.partitionBy($"source")))
        .withColumn("sel_decile",
          when($"rk" * 10 <= $"n_src", 1L).otherwise(0L))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          sum($"sel_global").as("n_sel_global"),
          sum($"sel_decile").as("n_sel_decile"))
        .withColumn("global_sel_ppm",
          expr("n_sel_global * 1000000L DIV n_docs"))
        .orderBy($"source")
    },
    Some("""
      WITH sc AS (
        SELECT doc_id, source,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
          CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
            AS n_distinct
        FROM documents),
      sp AS (SELECT *, n_distinct * 1000000 // n_tok AS score_ppm FROM sc),
      tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
                CAST(SUM(score_ppm) AS BIGINT) AS sum_score FROM sp),
      fl AS (
        SELECT source,
          CASE WHEN score_ppm * tot.n_total >= tot.sum_score
               THEN 1 ELSE 0 END AS sel_global,
          CASE WHEN row_number() OVER
                 (PARTITION BY source ORDER BY score_ppm DESC, doc_id) * 10
               <= COUNT(*) OVER (PARTITION BY source)
               THEN 1 ELSE 0 END AS sel_decile
        FROM sp CROSS JOIN tot)
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(sel_global) AS BIGINT) AS n_sel_global,
        CAST(SUM(sel_decile) AS BIGINT) AS n_sel_decile,
        CAST(SUM(sel_global) AS BIGINT) * 1000000 // COUNT(*)
          AS global_sel_ppm
      FROM fl GROUP BY source ORDER BY source"""))

  /** p84 — duplicated-n-gram coverage: the share of each source's tokens
    * that sit inside an 8-gram occurring ≥2 times corpus-wide — the exact
    * metric behind "remove duplicated n-grams" passes (RefinedWeb/MassiveText
    * style) and the cheapest predictor of how much exact-substring dedup
    * would delete. Overlapping dup grams are NOT double-counted: covered
    * token positions go through a distinct on (doc_id, position).
    *
    * 100 TB shape: grams travel as md5 digests; the corpus-wide gram
    * count is ONE digest-keyed shuffle feeding a count() window (the
    * expansion computes once — a groupBy+join-back would run it twice,
    * see the inline note); the coverage expansion is a narrow 8×
    * generator chain; the distinct is doc_id-clustered. Everything is
    * linear in corpus tokens. Hot-key tradeoff: the window buffers a
    * mega-hot boilerplate gram's occurrences in one task (no map-side
    * partials), so the count-only payload is kept to (doc_id, pos, g) —
    * 48-byte rows; the skew-probe numbers and the salted two-phase
    * fallback threshold live in OPTIMIZATION_r15.md.
    */
  private val p84 = Q(
    "p84_dup_ngram_coverage",
    (s, d) => {
      import s.implicits._
      val tk = T(s, d, "documents")
        .select($"doc_id", $"source", split($"text", " ").as("ts"))
        .withColumn("n_tok", size($"ts").cast(LongType))
      val grams = tk.filter($"n_tok" >= 8)
        .select($"doc_id", posexplode(expr(
          """transform(sequence(1, CAST(n_tok AS INT) - 7),
                       i -> md5(array_join(slice(ts, i, 8), ' ')))"""))
          .as(Seq("off", "g")))
        .select($"doc_id", ($"off" + 1).as("pos"), $"g")
      // Corpus-wide occurrence count as a window over the gram digest:
      // the obvious groupBy(g)+join-back computes the md5 gram expansion
      // TWICE (the partial aggregate runs below the groupBy's exchange,
      // so the two exchanges differ and ReuseExchange cannot dedupe
      // them). count() OVER (PARTITION BY g) shuffles the gram rows the
      // same once the join side already paid, computes the expansion
      // once, and deletes the join (guide §2.3/§2.4). Identical rows by
      // construction: every gram row annotated with its g-count.
      val covered = grams
        .withColumn("n_occ",
          count(lit(1)).over(Window.partitionBy($"g")))
        .filter($"n_occ" >= 2)
        .select($"doc_id", explode(sequence($"pos", $"pos" + 7)).as("p"))
        .distinct()
        .groupBy($"doc_id").agg(count(lit(1)).as("cov"))
      tk.select($"doc_id", $"source", $"n_tok")
        .join(covered, Seq("doc_id"), "left_outer")
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"), sum($"n_tok").as("sum_tokens"),
          sum(coalesce($"cov", lit(0L))).as("covered_tokens"))
        .withColumn("coverage_ppm",
          expr("covered_tokens * 1000000L DIV sum_tokens"))
        .orderBy($"source")
    },
    Some("""
      WITH tk AS (
        SELECT doc_id, source, string_split(text, ' ') AS ts,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        FROM documents),
      gp AS (
        SELECT doc_id, ts, unnest(range(1, CAST(n_tok AS INT) - 6)) AS pos
        FROM tk WHERE n_tok >= 8),
      gr AS (
        SELECT doc_id, pos,
          md5(array_to_string(ts[pos:pos+7], ' ')) AS g
        FROM gp),
      dup AS (SELECT g FROM gr GROUP BY g HAVING COUNT(*) >= 2),
      cv AS (
        SELECT doc_id, unnest(range(pos, pos + 8)) AS p
        FROM gr JOIN dup USING (g)),
      cov AS (SELECT DISTINCT doc_id, p FROM cv),
      covd AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS cov
               FROM cov GROUP BY doc_id)
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(n_tok) AS BIGINT) AS sum_tokens,
        CAST(SUM(COALESCE(covd.cov, 0)) AS BIGINT) AS covered_tokens,
        CAST(SUM(COALESCE(covd.cov, 0)) AS BIGINT) * 1000000
          // CAST(SUM(n_tok) AS BIGINT) AS coverage_ppm
      FROM tk LEFT JOIN covd USING (doc_id)
      GROUP BY source ORDER BY source"""))

  /** p85 — Count-Min Sketch token frequencies: a 4×256 counter matrix
    * (depth 4 independent md5-derived hash rows) over the corpus token
    * stream, then the CMS point estimate (min over the 4 rows) for every
    * vocabulary token, reported for the top-20 tokens by exact count next
    * to the exact count and the (always ≥0) overcount. Completes the
    * sketch family (HLL distinct p14, SpaceSaving heavy hitters p19,
    * percentile p57) with the classic frequency sketch; all integer, so
    * the estimate is bit-identical cross-engine.
    *
    * 100 TB shape: exact counts are one digest-keyed shuffle with
    * map-side partials (the p01 topology); the counter matrix is ≤1024
    * rows aggregated FROM the count table (equivalent to per-occurrence
    * increments, but touches vocab rows not token instances) and is
    * broadcast for the estimate join; top-20 is a TakeOrdered. At any
    * scale the sketch itself stays 4×256 longs — the whole point.
    */
  private val p85 = Q(
    "p85_cms_freq",
    (s, d) => {
      import s.implicits._
      val exact = T(s, d, "documents")
        .select(explode(split($"text", " ")).as("t"))
        .filter(length($"t") > 0)
        .groupBy($"t").agg(count(lit(1)).as("exact"))
      val cells = exact.select($"t", $"exact", posexplode(
        transform(sequence(lit(0), lit(3)),
          r => hash60(concat($"t", lit("_cms"), r.cast(StringType))) % 256))
        .as(Seq("r", "b")))
      val counters = cells.groupBy($"r", $"b").agg(sum($"exact").as("cnt"))
      cells.join(broadcast(counters), Seq("r", "b"))
        .groupBy($"t", $"exact").agg(min($"cnt").as("est"))
        .withColumn("overcount", $"est" - $"exact")
        .orderBy($"exact".desc, $"t").limit(20)
    },
    Some("""
      WITH tk AS (
        SELECT unnest(string_split(text, ' ')) AS t FROM documents),
      exact AS (
        SELECT t, CAST(COUNT(*) AS BIGINT) AS exact
        FROM tk WHERE len(t) > 0 GROUP BY t),
      cells AS (
        SELECT t, exact, r,
          ('0x' || substr(md5(t || '_cms' || CAST(r AS VARCHAR)), 1, 15))
            ::BIGINT % 256 AS b
        FROM exact CROSS JOIN (SELECT unnest(range(0, 4)) AS r)),
      counters AS (
        SELECT r, b, CAST(SUM(exact) AS BIGINT) AS cnt
        FROM cells GROUP BY r, b),
      est AS (
        SELECT t, exact, CAST(MIN(cnt) AS BIGINT) AS est
        FROM cells JOIN counters USING (r, b) GROUP BY t, exact)
      SELECT t, exact, est, est - exact AS overcount
      FROM est ORDER BY exact DESC, t LIMIT 20"""))

  /** p86 — content-defined chunking (FastCDC/rsync style, token
    * granularity): a rolling 4-token window hash cuts a chunk boundary
    * wherever hash % 16 == 0, so chunk boundaries survive insertions and
    * deletions (unlike fixed-size blocks) and shared passages land in
    * identical chunks. Chunks travel as md5 digests; a digest occurring
    * ≥2× corpus-wide marks its tokens as shared. Reports, per source, the
    * chunk count, mean implied by (n_chunks, sum_tokens), and the
    * shared-token share — the storage-dedup twin of p84's n-gram metric.
    *
    * 100 TB shape: chunking is per-row narrow array work (linear in
    * tokens, expected chunk length 16); the only shuffle is the
    * digest-keyed count() window (p84's one-pass topology — the chunking
    * computes once; hot-key buffering tradeoff documented at p84).
    * Boundary hashes are md5-derived, so both engines cut identically.
    */
  private val p86 = Q(
    "p86_cdc_chunks",
    (s, d) => {
      import s.implicits._
      val ct = T(s, d, "documents")
        .select($"doc_id", $"source", split($"text", " ").as("ts"))
        .withColumn("n_tok", size($"ts"))
        .withColumn("cuts", concat(array(lit(0)),
          when($"n_tok" >= 5, filter(sequence(lit(4), $"n_tok" - 1),
              i => hash60(array_join(slice($"ts", i - 3, lit(4)), " ")) % 16 === 0))
            .otherwise(array()),
          array($"n_tok")))
      val cf = ct.select($"doc_id", $"source", explode(expr(
        """transform(sequence(1, size(cuts) - 1),
             k -> named_struct(
               'g', md5(array_join(slice(ts, element_at(cuts, k) + 1,
                      element_at(cuts, k + 1) - element_at(cuts, k)), ' ')),
               'ln', CAST(element_at(cuts, k + 1) - element_at(cuts, k)
                          AS BIGINT)))""")).as("c"))
        .select($"doc_id", $"source", $"c.g".as("g"), $"c.ln".as("ln"))
      // Same one-pass window-count rewrite as p84: groupBy(g)+join-back
      // ran the rolling-hash chunking twice (partial agg below the
      // groupBy exchange defeats ReuseExchange); the window shuffles the
      // chunk rows the join side already shuffled, once, and drops the
      // join (guide §2.3/§2.4).
      cf.withColumn("n_occ", count(lit(1)).over(Window.partitionBy($"g")))
        .groupBy($"source")
        .agg(countDistinct($"doc_id").as("n_docs"),
          count(lit(1)).as("n_chunks"),
          sum($"ln").as("sum_tokens"),
          sum(when($"n_occ" >= 2, 1L).otherwise(0L)).as("n_shared_chunks"),
          sum(when($"n_occ" >= 2, $"ln").otherwise(0L)).as("shared_tokens"))
        .withColumn("shared_token_ppm",
          expr("shared_tokens * 1000000L DIV sum_tokens"))
        .orderBy($"source")
    },
    Some("""
      WITH tk AS (
        SELECT doc_id, source, string_split(text, ' ') AS ts,
          len(string_split(text, ' ')) AS n_tok
        FROM documents),
      ct AS (
        SELECT doc_id, source, ts,
          list_concat(list_concat([0],
            CASE WHEN n_tok >= 5 THEN
              list_filter(range(4, n_tok),
                i -> ('0x' || substr(md5(array_to_string(
                       ts[i-3:i], ' ')), 1, 15))::BIGINT % 16 = 0)
            ELSE [] END),
            [n_tok]) AS cuts
        FROM tk),
      ck AS (
        SELECT doc_id, source,
          unnest(list_transform(range(1, len(cuts)), k -> struct_pack(
            g := md5(array_to_string(ts[cuts[k]+1:cuts[k+1]], ' ')),
            ln := cuts[k+1] - cuts[k]))) AS c
        FROM ct),
      cf AS (SELECT doc_id, source, c.g AS g, CAST(c.ln AS BIGINT) AS ln
             FROM ck),
      occ AS (SELECT g, COUNT(*) AS n_occ FROM cf GROUP BY g)
      SELECT source,
        CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
        CAST(COUNT(*) AS BIGINT) AS n_chunks,
        CAST(SUM(ln) AS BIGINT) AS sum_tokens,
        CAST(SUM(CASE WHEN n_occ >= 2 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_shared_chunks,
        CAST(SUM(CASE WHEN n_occ >= 2 THEN ln ELSE 0 END) AS BIGINT)
          AS shared_tokens,
        CAST(SUM(CASE WHEN n_occ >= 2 THEN ln ELSE 0 END) AS BIGINT)
          * 1000000 // CAST(SUM(ln) AS BIGINT) AS shared_token_ppm
      FROM cf JOIN occ USING (g)
      GROUP BY source ORDER BY source"""))

  /** p87 — fuzzy dedup by edit distance, star-blocked: block on the md5
    * of the first 3 tokens, compare each non-head member against only the
    * block head (min doc_id) — the star pattern, LINEAR in members, the
    * same scale contract as p15's representative star — with
    * levenshtein() on the first 400 chars (prefix edit distance, the
    * standard cost bound for long documents). A member is a fuzzy dup if
    * lev·10 ≤ max(prefix lengths) — the exact cross-multiply form of
    * "edit distance ≤ 10% of length", no division. Recall contract
    * (documented): edits inside the first 3 tokens move a doc out of its
    * block — head-stable near-dups (template families, prefix clones)
    * are the target class.
    *
    * 100 TB shape: one shuffle on the block digest; candidate count
    * equals non-head member count (no quadratic pair list anywhere); the
    * head text joins back on head_id (same-key co-partition); the
    * levenshtein cost is capped at 400×400 char-ops per member.
    */
  private val p87 = Q(
    "p87_fuzzy_editdist",
    (s, d) => {
      import s.implicits._
      val ds = T(s, d, "documents")
        .select($"doc_id", $"source", $"n_chars",
          substring($"text", 1, 400).as("head_txt"),
          least($"n_chars", lit(400L)).as("hlen"),
          md5(expr("array_join(slice(split(text, ' '), 1, 3), ' ')"))
            .as("blk"))
      val heads = ds.groupBy($"blk").agg(min($"doc_id").as("head_id"))
      // Pin the levenshtein stage's parallelism: the candidate frame is
      // BYTE-small (~800 B/row) but CPU-heavy (400×400 char-ops/row), and
      // AQE's byte-based coalescing folds it into ONE 64 MB partition —
      // measured 34.5 s single-threaded at sf1 vs 3.6 s with the explicit
      // fixed-width repartition (which AQE leaves alone). At 100 TB the
      // candidate bytes exceed the advisory size and AQE parallelizes
      // naturally; the pin costs one extra shuffle of a tiny frame.
      val nPart = s.sessionState.conf.numShufflePartitions
      val pr = ds.join(heads, Seq("blk"))
        .filter($"doc_id" =!= $"head_id")
        .join(ds.select($"doc_id".as("head_id"), $"head_txt".as("h_txt"),
          $"hlen".as("h_len")), Seq("head_id"))
        .repartition(nPart, $"doc_id")
        .withColumn("lev", levenshtein($"head_txt", $"h_txt").cast(LongType))
        .withColumn("fuzzy",
          when($"lev" * 10 <= greatest($"hlen", $"h_len"), 1L).otherwise(0L))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_candidates"), sum($"fuzzy").as("n_fuzzy"),
          sum($"lev").as("sum_lev"))
      ds.groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct($"blk").as("n_blocks"))
        .join(pr, Seq("source"), "left_outer")
        .select($"source", $"n_docs", $"n_blocks",
          coalesce($"n_candidates", lit(0L)).as("n_candidates"),
          coalesce($"n_fuzzy", lit(0L)).as("n_fuzzy"),
          coalesce($"sum_lev", lit(0L)).as("sum_lev"))
        .orderBy($"source")
    },
    Some("""
      WITH ds AS (
        SELECT doc_id, source, n_chars,
          substr(text, 1, 400) AS head_txt,
          CAST(least(n_chars, 400) AS BIGINT) AS hlen,
          md5(array_to_string(string_split(text, ' ')[1:3], ' ')) AS blk
        FROM documents),
      hd AS (SELECT blk, MIN(doc_id) AS head_id FROM ds GROUP BY blk),
      pr AS (
        SELECT a.source,
          CAST(COUNT(*) AS BIGINT) AS n_candidates,
          CAST(SUM(CASE WHEN levenshtein(a.head_txt, b.head_txt) * 10
                        <= greatest(a.hlen, b.hlen)
                   THEN 1 ELSE 0 END) AS BIGINT) AS n_fuzzy,
          CAST(SUM(levenshtein(a.head_txt, b.head_txt)) AS BIGINT)
            AS sum_lev
        FROM ds a
        JOIN hd h USING (blk)
        JOIN ds b ON b.doc_id = h.head_id
        WHERE a.doc_id <> h.head_id
        GROUP BY a.source)
      SELECT d.source,
        CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(COUNT(DISTINCT d.blk) AS BIGINT) AS n_blocks,
        CAST(COALESCE(ANY_VALUE(pr.n_candidates), 0) AS BIGINT)
          AS n_candidates,
        CAST(COALESCE(ANY_VALUE(pr.n_fuzzy), 0) AS BIGINT) AS n_fuzzy,
        CAST(COALESCE(ANY_VALUE(pr.sum_lev), 0) AS BIGINT) AS sum_lev
      FROM ds d LEFT JOIN pr ON pr.source = d.source
      GROUP BY d.source ORDER BY d.source"""))

  /** p88 — robust winnowing fingerprints (the MOSS/local-fingerprint
    * scheme): hash every 4-token gram, then keep the MINIMUM hash of each
    * sliding window of 4 gram positions — the selected set is guaranteed
    * to contain at least one fingerprint from every 7-token stretch, so
    * any shared passage ≥ 7 tokens yields a shared fingerprint no matter
    * how the documents are aligned (position-robust, unlike fixed-stride
    * sampling). Reports, per doc, the gram count, the winnowed
    * fingerprint count, and how many of its fingerprints also occur in
    * another document (the overlap signal a plagiarism/near-dup pass
    * would block on).
    *
    * 100 TB shape: the gram expansion is an explode + plain codegen'd
    * expressions (NOT array-lambda HOFs — `transform`/`filter` lambdas
    * are CodegenFallback and ran interpreted at ~16 ms/doc, the straggler
    * the sf10 gate caught; same lesson as the p52/p61 generator-chain
    * rewrite), the window-min selection is one doc-keyed window over the
    * gram stream, and the remaining shuffles are the fingerprint-keyed
    * occurrence count and the same-key join back — p84/p86's digest
    * topology.
    */
  private val p88 = Q(
    "p88_winnowing",
    (s, d) => {
      import s.implicits._
      val base = T(s, d, "documents")
        .select($"doc_id", split($"text", " ").as("ts"))
        .select($"doc_id", $"ts",
          (size($"ts") - 3).cast(LongType).as("m"))
      val grams = base.filter($"m" >= 1)
        .select($"doc_id", $"m", $"ts",
          explode(expr("sequence(1L, m)")).as("i"))
        .select($"doc_id", $"m", $"i",
          hash60(array_join(slice($"ts", $"i".cast(IntegerType), lit(4)), " "))
            .as("h"))
      // min over gram positions [i, i+3]; the frame clips at the doc end,
      // so for m < 4 the single kept row (i = 1) is min over ALL grams —
      // the same fallback as winnowing a doc shorter than one window.
      val w = Window.partitionBy($"doc_id").orderBy($"i")
        .rowsBetween(Window.currentRow, 3)
      val sel = grams.withColumn("fp", min($"h").over(w))
        .filter(($"m" >= 4 && $"i" <= $"m" - 3) || ($"m" < 4 && $"i" === 1))
        .select($"doc_id", $"fp").distinct()
      val idx = sel.groupBy($"fp").agg(count(lit(1)).as("nd"))
      val shared = sel.join(idx, Seq("fp")).filter($"nd" >= 2)
        .groupBy($"doc_id").agg(count(lit(1)).as("n_shared_fps"))
      val perDoc = sel.groupBy($"doc_id").agg(count(lit(1)).as("n_fps"))
      base.select($"doc_id", greatest($"m", lit(0L)).as("n_grams"))
        .join(perDoc, Seq("doc_id"), "left_outer")
        .join(shared, Seq("doc_id"), "left_outer")
        .select($"doc_id", $"n_grams",
          coalesce($"n_fps", lit(0L)).as("n_fps"),
          coalesce($"n_shared_fps", lit(0L)).as("n_shared_fps"))
        .orderBy($"doc_id")
    },
    Some("""
      WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts
                 FROM documents),
      g AS (SELECT doc_id,
              CASE WHEN len(ts) >= 4 THEN
                list_transform(range(1, len(ts) - 2),
                  i -> ('0x' || substr(md5(array_to_string(
                         ts[i:i+3], ' ')), 1, 15))::BIGINT)
              ELSE [] END AS hs
            FROM t),
      f AS (SELECT doc_id, CAST(len(hs) AS BIGINT) AS n_grams,
              CASE WHEN len(hs) >= 4 THEN
                list_distinct(list_transform(range(1, len(hs) - 2),
                  j -> list_min(hs[j:j+3])))
              WHEN len(hs) >= 1 THEN [list_min(hs)]
              ELSE [] END AS fps
            FROM g),
      e AS (SELECT doc_id, unnest(fps) AS fp FROM f),
      ix AS (SELECT fp, COUNT(DISTINCT doc_id) AS nd FROM e GROUP BY fp),
      sh AS (SELECT e.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared
             FROM e JOIN ix USING (fp) WHERE nd >= 2 GROUP BY e.doc_id)
      SELECT f.doc_id, f.n_grams, CAST(len(f.fps) AS BIGINT) AS n_fps,
        COALESCE(sh.n_shared, 0) AS n_shared_fps
      FROM f LEFT JOIN sh ON sh.doc_id = f.doc_id
      ORDER BY f.doc_id"""))

  /** p89 — mutual-kNN pairs inside LSH buckets: each vector's 3 nearest
    * bucket-mates by exact cosine, kept only when the relation is MUTUAL
    * (a ∈ knn(b) AND b ∈ knn(a)) — the standard edge filter for
    * agglomerative near-dup clustering and hard-pair mining, because
    * one-sided neighbors in dense regions are mostly hubness noise.
    *
    * 100 TB shape: p12's signed-random-projection bucket is the shuffle
    * key, so the quadratic compare is confined to bucket-local blocks
    * (bucket count scales with corpus size by adding hyperplanes — same
    * contract as p13); the mutual filter is a self-join of the tiny
    * (vec_id, neighbor) edge list on the reversed key.
    *
    * Scale contract (same as p13): the oracle-checked 4-plane/16-bucket
    * config keeps buckets corpus-proportional, so like p13 this entry is
    * gated through sf1 and EXCLUDED from decade scale-ups by contract —
    * at sf10 a 31k-vector bucket is ~1B within-bucket pairs. The
    * production form raises the plane count so buckets stay O(1); the
    * capped-cell route (p95/p96) is the decade-gated neighbor path.
    */
  private def mutualKnnQ(name: String, nPlanes: Int): Q = Q(
    name,
    (s, d) => {
      import s.implicits._
      val b = T(s, d, "embeddings")
        .withColumn("bucket", VectorFunctions.lsh_bucket($"embedding", nPlanes))
      val sim = b.as("a").join(b.as("n"),
          col("a.bucket") === col("n.bucket") &&
            col("a.vec_id") =!= col("n.vec_id"))
        .select(col("a.vec_id").as("src"), col("n.vec_id").as("dst"),
          dec(VectorFunctions.cosine_similarity(
            col("a.embedding"), col("n.embedding")), 18, 6).as("cos_sim"))
      val w = Window.partitionBy($"src")
        .orderBy($"cos_sim".desc, $"dst")
      val knn = sim.withColumn("rk", row_number.over(w)).filter($"rk" <= 3)
        .select($"src", $"dst", $"cos_sim")
      knn.as("x").join(knn.as("y"),
          col("x.src") === col("y.dst") && col("x.dst") === col("y.src") &&
            col("x.src") < col("x.dst"))
        .select(col("x.src").as("id_a"), col("x.dst").as("id_b"),
          col("x.cos_sim").as("cos_sim"))
        .orderBy($"id_a", $"id_b")
    },
    Some(s"""
      WITH b AS (SELECT vec_id, embedding,
                   ${lshBucketDuck("embedding", nPlanes)} AS bucket
                 FROM embeddings),
      sim AS (
        SELECT a.vec_id AS src, n.vec_id AS dst,
          CAST(${foldDotDuck("a.embedding", "n.embedding")} /
               (sqrt(${foldDotDuck("a.embedding", "a.embedding")}) *
                sqrt(${foldDotDuck("n.embedding", "n.embedding")}))
            AS DECIMAL(18,6)) AS cos_sim
        FROM b a JOIN b n
          ON a.bucket = n.bucket AND a.vec_id <> n.vec_id),
      knn AS (
        SELECT src, dst, cos_sim FROM (
          SELECT src, dst, cos_sim,
            row_number() OVER (PARTITION BY src
                               ORDER BY cos_sim DESC, dst) AS rk
          FROM sim) WHERE rk <= 3)
      SELECT x.src AS id_a, x.dst AS id_b, x.cos_sim AS cos_sim
      FROM knn x JOIN knn y ON x.src = y.dst AND x.dst = y.src
      WHERE x.src < x.dst
      ORDER BY id_a, id_b"""))

  private val p89 = mutualKnnQ("p89_mutual_knn", 4)

  /** p121 — p89's PRODUCTION form, measured: mutual-kNN at 8 hyperplanes
    * (256 buckets), same contract demonstration as p120 — the bucket
    * count is the scale knob, and this entry gates it with an oracle at
    * every SF (the kNN itself becomes bucket-LOCAL 3-NN; neighbors lost
    * to plane disagreement are the recall trade the entry's scaladoc
    * twin p120 documents).
    */
  private val p121 = mutualKnnQ("p121_mutual_knn_prod", 8)

  /** p90 — span-corruption masking audit (T5/UL2-style pretraining prep):
    * a token position opens a 3-token mask span when
    * md5(doc_id, position) % 8 == 0, so a position is masked iff it or
    * either of its two predecessors triggers. Being hash-driven, the plan
    * is reproducible (the property that matters for pretraining-data
    * audits: the SAME spans mask on every rerun and on both engines).
    * Reports per source the token count, masked count, and realized
    * corruption rate vs the nominal ~32.2 % (1 − (7/8)³).
    *
    * 100 TB shape: one explode to the position stream with ONE codegen'd
    * md5 per position (NOT a filter-over-sequence lambda — HOF lambdas
    * are CodegenFallback, the interpreted-straggler class the sf10 gate
    * caught in p88's first cut), trigger rows expand to their 3-position
    * span and dedupe on (doc, position); shuffles are the span dedupe and
    * the per-source rollup, both partial-combined.
    */
  private val p90 = Q(
    "p90_span_mask",
    (s, d) => {
      import s.implicits._
      val base = T(s, d, "documents")
        .select($"doc_id", $"source",
          size(split($"text", " ")).cast(LongType).as("n_tok"))
      // one hash per position; a trigger at t masks positions t, t+1, t+2
      // (≡ "p masked iff p, p−1, or p−2 triggers"), clipped to the doc.
      val masked = base
        .select($"doc_id", $"n_tok",
          explode(expr("sequence(1L, n_tok)")).as("p"))
        .filter(hash60(concat($"doc_id".cast(StringType), lit("_"),
          $"p".cast(StringType), lit("_sm"))) % 8 === 0)
        .select($"doc_id", $"n_tok",
          explode(expr("array(p, p + 1L, p + 2L)")).as("q"))
        .filter($"q" <= $"n_tok")
        .select($"doc_id", $"q").distinct()
        .groupBy($"doc_id").agg(count(lit(1)).as("n_masked"))
      base.join(masked, Seq("doc_id"), "left_outer")
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          sum($"n_tok").as("sum_tokens"),
          sum(coalesce($"n_masked", lit(0L))).as("sum_masked"))
        .withColumn("mask_rate",
          dec($"sum_masked" / $"sum_tokens", 18, 6))
        .orderBy($"source")
    },
    Some("""
      WITH m AS (
        SELECT doc_id, source,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
          CAST(len(list_filter(range(1, len(string_split(text, ' ')) + 1),
            p -> ('0x' || substr(md5(doc_id || '_' || p || '_sm'),
                    1, 15))::BIGINT % 8 = 0
              OR (p >= 2 AND
                ('0x' || substr(md5(doc_id || '_' || (p - 1) || '_sm'),
                   1, 15))::BIGINT % 8 = 0)
              OR (p >= 3 AND
                ('0x' || substr(md5(doc_id || '_' || (p - 2) || '_sm'),
                   1, 15))::BIGINT % 8 = 0))) AS BIGINT) AS n_masked
        FROM documents)
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(n_tok) AS BIGINT) AS sum_tokens,
        CAST(SUM(n_masked) AS BIGINT) AS sum_masked,
        CAST(CAST(SUM(n_masked) AS DOUBLE) / CAST(SUM(n_tok) AS DOUBLE)
          AS DECIMAL(18,6)) AS mask_rate
      FROM m GROUP BY source ORDER BY source"""))

  /** p91 — square-root source rebalancing (the multilingual/multi-source
    * mixing rule: sample counts ∝ √n so big sources stop drowning small
    * ones): per source, quota = ⌊√n_eligible⌋·3 over the quality-eligible
    * docs (n_chars ≥ 150), filled by a deterministic md5 lottery — rank
    * by (md5(doc_id), doc_id) and keep rank ≤ quota. The kept-set is
    * content-addressed (reproducible across reruns/engines), and
    * sum_kept_chars pins WHICH docs were kept, not just how many.
    *
    * √n on a BIGINT count is cross-engine exact: IEEE sqrt is correctly
    * rounded, both engines floor the same double.
    *
    * 100 TB shape: the quota is a per-source scalar (broadcastable); the
    * lottery rank is one window shuffle on source — same topology as any
    * per-key top-k, and TopKRewrite-eligible if quotas were uniform.
    */
  private val p91 = Q(
    "p91_sqrt_balance",
    (s, d) => {
      import s.implicits._
      val el = T(s, d, "documents")
        .filter($"n_chars" >= 150)
        .select($"doc_id", $"source", $"n_chars",
          md5(concat($"doc_id".cast(StringType), lit("_bal"))).as("tk"))
      val quo = el.groupBy($"source")
        .agg(count(lit(1)).as("n_eligible"))
        .withColumn("quota",
          expr("CAST(floor(sqrt(CAST(n_eligible AS DOUBLE))) AS BIGINT) * 3"))
      val w = Window.partitionBy($"source").orderBy($"tk", $"doc_id")
      val kept = el.withColumn("rk", row_number.over(w).cast(LongType))
        .join(broadcast(quo), Seq("source"))
        .filter($"rk" <= $"quota")
        .groupBy($"source")
        .agg(count(lit(1)).as("n_kept"),
          sum($"n_chars").as("sum_kept_chars"))
      val tot = T(s, d, "documents").groupBy($"source")
        .agg(count(lit(1)).as("n_docs"))
      tot.join(quo, Seq("source"), "left_outer")
        .join(kept, Seq("source"), "left_outer")
        .select($"source", $"n_docs",
          coalesce($"n_eligible", lit(0L)).as("n_eligible"),
          coalesce($"quota", lit(0L)).as("quota"),
          coalesce($"n_kept", lit(0L)).as("n_kept"),
          coalesce($"sum_kept_chars", lit(0L)).as("sum_kept_chars"))
        .orderBy($"source")
    },
    Some("""
      WITH el AS (
        SELECT doc_id, source, n_chars,
          md5(doc_id || '_bal') AS tk
        FROM documents WHERE n_chars >= 150),
      quo AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_eligible,
          CAST(floor(sqrt(CAST(COUNT(*) AS DOUBLE))) AS BIGINT) * 3 AS quota
        FROM el GROUP BY source),
      rk AS (
        SELECT source, doc_id, n_chars,
          CAST(row_number() OVER (PARTITION BY source
                                  ORDER BY tk, doc_id) AS BIGINT) AS rk
        FROM el),
      kept AS (
        SELECT rk.source, CAST(COUNT(*) AS BIGINT) AS n_kept,
          CAST(SUM(rk.n_chars) AS BIGINT) AS sum_kept_chars
        FROM rk JOIN quo USING (source) WHERE rk.rk <= quo.quota
        GROUP BY rk.source),
      tot AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
              FROM documents GROUP BY source)
      SELECT tot.source, tot.n_docs,
        COALESCE(quo.n_eligible, 0) AS n_eligible,
        COALESCE(quo.quota, 0) AS quota,
        COALESCE(kept.n_kept, 0) AS n_kept,
        COALESCE(kept.sum_kept_chars, 0) AS sum_kept_chars
      FROM tot LEFT JOIN quo ON quo.source = tot.source
      LEFT JOIN kept ON kept.source = tot.source
      ORDER BY tot.source"""))

  /** p92 — lexical diversity: per-doc type-token ratio and Simpson
    * repeat-concentration (Σc·(c−1) / n·(n−1), the probability two
    * sampled token instances are the same type — the division-free
    * integer core), aggregated per lang. Low diversity flags
    * template/spam text that per-token quality scores (p04) miss.
    *
    * Exact rational interior (integer sums are order-independent), ONE
    * double division per output ratio — the Catalog determinism rule.
    *
    * 100 TB shape: two hash shuffles, both map-side combinable
    * ((doc, token) count, then per-doc stats), final per-lang rollup is
    * tiny.
    */
  private val p92 = Q(
    "p92_lexical_diversity",
    (s, d) => {
      import s.implicits._
      val tok = T(s, d, "documents")
        .select($"doc_id", $"lang", explode(split($"text", " ")).as("t"))
      val cnt = tok.groupBy($"doc_id", $"lang", $"t")
        .agg(count(lit(1)).as("c"))
      val doc = cnt.groupBy($"doc_id", $"lang")
        .agg(sum($"c").as("n"),
          count(lit(1)).as("ty"),
          sum($"c" * ($"c" - 1)).as("simp_num"))
      doc.groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"),
          sum($"n").as("sum_tokens"),
          sum($"ty").as("sum_types"),
          sum($"simp_num").as("sum_simp_num"),
          sum($"n" * ($"n" - 1)).as("sum_simp_den"))
        .withColumn("ttr", dec($"sum_types" / $"sum_tokens", 18, 6))
        .withColumn("simpson",
          dec($"sum_simp_num" / $"sum_simp_den", 18, 6))
        .orderBy($"lang")
    },
    Some("""
      WITH tok AS (
        SELECT doc_id, lang, unnest(string_split(text, ' ')) AS t
        FROM documents),
      cnt AS (SELECT doc_id, lang, t, CAST(COUNT(*) AS BIGINT) AS c
              FROM tok GROUP BY doc_id, lang, t),
      doc AS (
        SELECT doc_id, lang, SUM(c) AS n, CAST(COUNT(*) AS BIGINT) AS ty,
          SUM(c * (c - 1)) AS simp_num
        FROM cnt GROUP BY doc_id, lang)
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(n) AS BIGINT) AS sum_tokens,
        CAST(SUM(ty) AS BIGINT) AS sum_types,
        CAST(SUM(simp_num) AS BIGINT) AS sum_simp_num,
        CAST(SUM(n * (n - 1)) AS BIGINT) AS sum_simp_den,
        CAST(CAST(SUM(ty) AS DOUBLE) / CAST(SUM(n) AS DOUBLE)
          AS DECIMAL(18,6)) AS ttr,
        CAST(CAST(SUM(simp_num) AS DOUBLE) / CAST(SUM(n * (n - 1)) AS DOUBLE)
          AS DECIMAL(18,6)) AS simpson
      FROM doc GROUP BY lang ORDER BY lang"""))

  /** p93 — contrastive-pair mining: anchor/positive pairs for embedding
    * training from template families — block on the md5 of the first 3
    * tokens (p87's head-stable blocking), anchor = block head (min
    * doc_id), keep ≤ 2 positives per anchor by doc_id order so one mega
    * family can't dominate a training batch. Emits (anchor, positive,
    * source, block size) — the inputs a hard-negative sampler would
    * consume downstream.
    *
    * 100 TB shape: one shuffle on the block digest; the per-block cap is
    * a row_number window on the SAME key (no second shuffle); output is
    * linear in doc count with a 2-per-block ceiling.
    */
  private val p93 = Q(
    "p93_contrastive_pairs",
    (s, d) => {
      import s.implicits._
      val ds = T(s, d, "documents")
        .select($"doc_id", $"source",
          md5(expr("array_join(slice(split(text, ' '), 1, 3), ' ')"))
            .as("blk"))
      val heads = ds.groupBy($"blk")
        .agg(min($"doc_id").as("anchor_id"), count(lit(1)).as("blk_size"))
      val w = Window.partitionBy($"blk").orderBy($"doc_id")
      ds.join(heads, Seq("blk"))
        .filter($"doc_id" =!= $"anchor_id")
        .withColumn("rk", row_number.over(w))
        .filter($"rk" <= 2)
        .select($"anchor_id", $"doc_id".as("pos_id"), $"source",
          $"blk_size")
        .orderBy($"anchor_id", $"pos_id")
    },
    Some("""
      WITH ds AS (
        SELECT doc_id, source,
          md5(array_to_string(string_split(text, ' ')[1:3], ' ')) AS blk
        FROM documents),
      hd AS (SELECT blk, MIN(doc_id) AS anchor_id,
               CAST(COUNT(*) AS BIGINT) AS blk_size
             FROM ds GROUP BY blk),
      pos AS (
        SELECT hd.anchor_id, ds.doc_id AS pos_id, ds.source, hd.blk_size,
          row_number() OVER (PARTITION BY ds.blk ORDER BY ds.doc_id) AS rk
        FROM ds JOIN hd USING (blk)
        WHERE ds.doc_id <> hd.anchor_id)
      SELECT anchor_id, pos_id, source, blk_size
      FROM pos WHERE rk <= 2
      ORDER BY anchor_id, pos_id"""))

  /** p94 — incremental ingestion dedup: dedup a NEW batch (a
    * deterministic 20 % md5 split of doc_id) against the already-ingested
    * index — first collapse within-batch copies (min doc_id per digest),
    * then LEFT ANTI join the survivors against the index's digest set.
    * The digest is the VOCABULARY fingerprint (md5 of the sorted distinct
    * token set), which is invariant to token order and repetition — the
    * cheap canonical form that catches shuffled/stuttered template copies
    * that a raw-text hash misses. This is the steady-state shape of a
    * production corpus: the full corpus is never re-deduped; each
    * increment pays one digest shuffle plus an anti-join against the
    * index.
    *
    * 100 TB shape: the anti-join is digest-keyed (co-partitions with the
    * batch's own dedup shuffle); at scale the index side is a bucketed
    * digest table or a bloom pre-filter (p56's runtime-filter pattern) —
    * the batch never rescans index text.
    */
  private val p94 = Q(
    "p94_incremental_ingest",
    (s, d) => {
      import s.implicits._
      val ds = T(s, d, "documents")
        .select($"doc_id", $"source",
          // sort_array, not array_sort: the comparator-lambda form is a
          // CodegenFallback HOF (interpreted per row); SortArray is plain
          // codegen and identical for non-null string arrays.
          md5(expr(
            "array_join(sort_array(array_distinct(split(text, ' '))), ' ')"))
            .as("fp"),
          (hash60(concat($"doc_id".cast(StringType), lit("_ing"))) % 5 === 0)
            .as("is_new"))
      val idx = ds.filter(!$"is_new").select($"fp").distinct()
      val batch = ds.filter($"is_new")
      val keep = batch.groupBy($"fp")
        .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      val acc = keep.join(idx, Seq("fp"), "left_anti")
        .join(batch.select($"doc_id".as("keep_id"), $"source"),
          Seq("keep_id"))
      val accBySrc = acc.groupBy($"source")
        .agg(count(lit(1)).as("n_accepted"))
      batch.groupBy($"source")
        .agg(count(lit(1)).as("n_batch"),
          countDistinct($"fp").as("n_batch_distinct"))
        .join(accBySrc, Seq("source"), "left_outer")
        .select($"source", $"n_batch", $"n_batch_distinct",
          coalesce($"n_accepted", lit(0L)).as("n_accepted"),
          ($"n_batch_distinct" - coalesce($"n_accepted", lit(0L)))
            .as("n_dup_vs_index"))
        .orderBy($"source")
    },
    Some("""
      WITH ds AS (
        SELECT doc_id, source,
          md5(array_to_string(list_sort(list_distinct(
            string_split(text, ' '))), ' ')) AS fp,
          ('0x' || substr(md5(doc_id || '_ing'), 1, 15))::BIGINT % 5 = 0
            AS is_new
        FROM documents),
      idx AS (SELECT DISTINCT fp FROM ds WHERE NOT is_new),
      batch AS (SELECT * FROM ds WHERE is_new),
      keep AS (SELECT fp, MIN(doc_id) AS keep_id,
                 CAST(COUNT(*) AS BIGINT) AS n_copies
               FROM batch GROUP BY fp),
      acc AS (
        SELECT b.source FROM keep k
        JOIN batch b ON b.doc_id = k.keep_id
        WHERE NOT EXISTS (SELECT 1 FROM idx WHERE idx.fp = k.fp)),
      accs AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_accepted
               FROM acc GROUP BY source)
      SELECT b.source, CAST(COUNT(*) AS BIGINT) AS n_batch,
        CAST(COUNT(DISTINCT b.fp) AS BIGINT) AS n_batch_distinct,
        COALESCE(ANY_VALUE(accs.n_accepted), 0) AS n_accepted,
        CAST(COUNT(DISTINCT b.fp) AS BIGINT)
          - COALESCE(ANY_VALUE(accs.n_accepted), 0) AS n_dup_vs_index
      FROM batch b LEFT JOIN accs ON accs.source = b.source
      GROUP BY b.source ORDER BY b.source"""))

  /** p95 — semantic deduplication (SemDeDup): cluster embeddings to
    * coarse cells (argmax cosine against 64 broadcast centroids, vec_id
    * 1..64 — the p18 IVF assignment reused as the clustering step), then
    * WITHIN each cell drop every vector that has a near-duplicate
    * (cos ≥ 0.40, this corpus's near-dup band — see p13) that sits CLOSER
    * to the centroid; of a near-dup group the centroid-farthest member
    * survives (the SemDeDup paper's keep rule: low-centroid-similarity
    * examples carry the most marginal information). Reported per cell:
    * total / capped-participant / dropped / kept counts.
    *
    * 100 TB shape: centroids broadcast; assignment is one map-side
    * hash-aggregate (no shuffle of pairs); the quadratic half is confined
    * within a cell AND capped at 256 participants per cell (p15's block
    * contract — overflow rows auto-keep), so pair work is O(cells · 256²)
    * regardless of corpus size; raise the centroid count to keep cells
    * balanced at scale.
    */
  private val p95 = Q(
    "p95_semdedup",
    (s, d) => {
      import s.implicits._
      val emb = T(s, d, "embeddings")
      val cents = emb.filter($"vec_id".between(1, 64))
        .select($"vec_id".cast(IntegerType).as("cid"), $"embedding".as("cvec"))
      val assign = emb.crossJoin(broadcast(cents))
        .withColumn("csim",
          VectorFunctions.cosine_similarity($"embedding", $"cvec"))
        .groupBy($"vec_id")
        .agg(max_by(struct($"cid", $"embedding", $"csim"),
          struct($"csim", -$"cid")).as("best"))
        .select($"vec_id", $"best.cid".as("cell"),
          dec($"best.csim", 18, 9).as("csim"),
          $"best.embedding".as("embedding"))
      val part = assign.withColumn("rn",
          row_number().over(Window.partitionBy($"cell").orderBy($"vec_id")))
        .filter($"rn" <= 256).drop("rn")
      val dropped = part.as("a").join(part.as("b"),
          col("a.cell") === col("b.cell") &&
            col("a.vec_id") =!= col("b.vec_id") &&
            dec(VectorFunctions.cosine_similarity(
              col("a.embedding"), col("b.embedding")), 18, 6) >= 0.40 &&
            (col("b.csim") < col("a.csim") ||
              (col("b.csim") === col("a.csim") &&
                col("b.vec_id") < col("a.vec_id"))))
        .select(col("a.cell").as("cell"), col("a.vec_id").as("vid"))
        .distinct()
      assign.groupBy($"cell").agg(count(lit(1)).as("n"))
        .join(broadcast(part.groupBy($"cell").agg(count(lit(1)).as("n_part"))),
          Seq("cell"))
        .join(broadcast(
          dropped.groupBy($"cell").agg(count(lit(1)).as("n_dropped"))),
          Seq("cell"), "left_outer")
        .select($"cell", $"n", $"n_part",
          coalesce($"n_dropped", lit(0L)).as("n_dropped"),
          ($"n" - coalesce($"n_dropped", lit(0L))).as("n_kept"))
        .orderBy($"cell")
    },
    Some(s"""
      WITH c AS (SELECT CAST(vec_id AS INT) AS cid, embedding AS cvec
                 FROM embeddings WHERE vec_id BETWEEN 1 AND 64),
      sims AS (SELECT e.vec_id, e.embedding, c.cid,
                 ${foldDotDuck("e.embedding", "c.cvec")} /
                   (sqrt(${foldDotDuck("e.embedding", "e.embedding")}) *
                    sqrt(${foldDotDuck("c.cvec", "c.cvec")})) AS csim
               FROM embeddings e CROSS JOIN c),
      assign AS (SELECT vec_id, embedding, cid, csim,
                   row_number() OVER (PARTITION BY vec_id
                     ORDER BY csim DESC, cid) AS rn
                 FROM sims),
      cells AS (SELECT vec_id, embedding, cid AS cell,
                  CAST(csim AS DECIMAL(18,9)) AS csim
                FROM assign WHERE rn = 1),
      part AS (SELECT vec_id, embedding, cell, csim FROM (
                 SELECT cells.*, row_number() OVER (PARTITION BY cell
                   ORDER BY vec_id) AS prn FROM cells)
               WHERE prn <= 256),
      drp AS (SELECT DISTINCT a.cell, a.vec_id FROM part a JOIN part b
                ON a.cell = b.cell AND a.vec_id <> b.vec_id
                AND CAST(${foldDotDuck("a.embedding", "b.embedding")} /
                      (sqrt(${foldDotDuck("a.embedding", "a.embedding")}) *
                       sqrt(${foldDotDuck("b.embedding", "b.embedding")}))
                    AS DECIMAL(18,6)) >= 0.40
                AND (b.csim < a.csim
                     OR (b.csim = a.csim AND b.vec_id < a.vec_id))),
      nn AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS n FROM cells GROUP BY cell),
      np AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_part FROM part GROUP BY cell),
      nd AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_dropped FROM drp GROUP BY cell)
      SELECT nn.cell, nn.n, np.n_part,
        COALESCE(nd.n_dropped, 0) AS n_dropped,
        nn.n - COALESCE(nd.n_dropped, 0) AS n_kept
      FROM nn JOIN np ON nn.cell = np.cell
      LEFT JOIN nd ON nn.cell = nd.cell
      ORDER BY nn.cell"""))

  /** p96 — hard-negative mining for contrastive training: for each
    * vector, the highest-cosine neighbor with a DIFFERENT label inside
    * its coarse cell (the p95/p18 centroid assignment) — the standard
    * "hard negatives from the same ANN bucket" recipe that upgrades
    * random negatives to near-miss ones. Ties break to the smaller
    * neg_id (vec_ids are non-negative, so max(struct(cos, -neg_id)) is a
    * safe lexicographic argmax). Anchors whose cell holds no other label
    * produce no row (both engines: inner-join semantics).
    *
    * 100 TB shape: identical to p95 — broadcast centroids, one
    * assignment aggregate, pair work confined to capped cells; the
    * argmax itself is a partial-aggregatable map-side max(struct).
    */
  private val p96 = Q(
    "p96_hard_negatives",
    (s, d) => {
      import s.implicits._
      val emb = T(s, d, "embeddings")
      val cents = emb.filter($"vec_id".between(1, 64))
        .select($"vec_id".cast(IntegerType).as("cid"), $"embedding".as("cvec"))
      val assign = emb.crossJoin(broadcast(cents))
        .withColumn("csim",
          VectorFunctions.cosine_similarity($"embedding", $"cvec"))
        .groupBy($"vec_id")
        .agg(max_by(struct($"cid", $"label", $"embedding"),
          struct($"csim", -$"cid")).as("best"))
        .select($"vec_id", $"best.cid".as("cell"),
          $"best.label".as("label"), $"best.embedding".as("embedding"))
      val part = assign.withColumn("rn",
          row_number().over(Window.partitionBy($"cell").orderBy($"vec_id")))
        .filter($"rn" <= 256).drop("rn")
      part.as("a").join(part.as("b"),
          col("a.cell") === col("b.cell") &&
            col("a.label") =!= col("b.label"))
        .select(col("a.vec_id").as("vec_id"), col("a.label").as("label"),
          col("b.vec_id").as("neg_id"),
          dec(VectorFunctions.cosine_similarity(
            col("a.embedding"), col("b.embedding")), 18, 6).as("neg_cos"))
        .groupBy($"vec_id", $"label")
        .agg(max_by(struct($"neg_id", $"neg_cos"),
          struct($"neg_cos", -$"neg_id")).as("best"))
        .select($"vec_id", $"label", $"best.neg_id".as("neg_id"),
          $"best.neg_cos".as("neg_cos"))
        .orderBy($"vec_id")
    },
    Some(s"""
      WITH c AS (SELECT CAST(vec_id AS INT) AS cid, embedding AS cvec
                 FROM embeddings WHERE vec_id BETWEEN 1 AND 64),
      sims AS (SELECT e.vec_id, e.label, e.embedding, c.cid,
                 ${foldDotDuck("e.embedding", "c.cvec")} /
                   (sqrt(${foldDotDuck("e.embedding", "e.embedding")}) *
                    sqrt(${foldDotDuck("c.cvec", "c.cvec")})) AS csim
               FROM embeddings e CROSS JOIN c),
      assign AS (SELECT vec_id, label, embedding, cid,
                   row_number() OVER (PARTITION BY vec_id
                     ORDER BY csim DESC, cid) AS rn
                 FROM sims),
      cells AS (SELECT vec_id, label, embedding, cid AS cell
                FROM assign WHERE rn = 1),
      part AS (SELECT vec_id, label, embedding, cell FROM (
                 SELECT cells.*, row_number() OVER (PARTITION BY cell
                   ORDER BY vec_id) AS prn FROM cells)
               WHERE prn <= 256),
      pairs AS (SELECT a.vec_id, a.label, b.vec_id AS neg_id,
                  CAST(${foldDotDuck("a.embedding", "b.embedding")} /
                        (sqrt(${foldDotDuck("a.embedding", "a.embedding")}) *
                         sqrt(${foldDotDuck("b.embedding", "b.embedding")}))
                      AS DECIMAL(18,6)) AS neg_cos
                FROM part a JOIN part b
                  ON a.cell = b.cell AND a.label <> b.label),
      ranked AS (SELECT *, row_number() OVER (PARTITION BY vec_id
                   ORDER BY neg_cos DESC, neg_id) AS rn FROM pairs)
      SELECT vec_id, label, neg_id, neg_cos FROM ranked WHERE rn = 1
      ORDER BY vec_id"""))

  /** p97 — retrieval ranking-quality audit (nDCG/MRR): rank documents
    * per query term by RAW term frequency (the naive ranker), judge them
    * by length-normalized density (rel 2 when tf·9 ≥ doc_len, rel 1
    * when tf·14 ≥ doc_len — editorial relevance the ranker does NOT see,
    * so the audit is non-degenerate), and score the top 10 with
    * EXPONENTIAL-discount DCG: weight 2^(10−rank), all-integer, so
    * DCG/IDCG are exact BIGINTs in both engines and nDCG is ONE double
    * division (IEEE-identical everywhere) — the log2 discount of
    * textbook nDCG is deliberately traded for a discount that cannot
    * drift across engines. MRR = 1/rank of the first HIGHLY relevant
    * (rel 2) result, same one-division rule — judged on rel 2 so a
    * rel-1-everywhere ranker doesn't trivially score 1.0.
    *
    * 100 TB shape: p51's topology — the explode is filtered to the query
    * vocabulary BEFORE any shuffle, per-term partitions carry only
    * matching docs, and every metric is a partial-aggregatable sum.
    */
  private val p97 = Q(
    "p97_rank_quality",
    (s, d) => {
      import s.implicits._
      val terms = Seq("spark", "join", "window", "hash")
      val docs = T(s, d, "documents")
      val tf = docs
        .select($"doc_id",
          size(split($"text", " ")).cast(LongType).as("dl"),
          explode(split($"text", " ")).as("w"))
        .filter($"w".isin(terms: _*))
        .groupBy($"w", $"doc_id").agg(count(lit(1)).as("tf"),
          first($"dl").as("dl"))
        .select($"w", $"doc_id", $"tf",
          when($"tf" * 9 >= $"dl", 2L)
            .when($"tf" * 14 >= $"dl", 1L).otherwise(0L).as("rel"))
      val ranked = tf
        .withColumn("rank", row_number().over(
          Window.partitionBy($"w").orderBy($"tf".desc, $"doc_id")))
        .withColumn("irank", row_number().over(
          Window.partitionBy($"w").orderBy($"rel".desc, $"doc_id")))
      ranked.groupBy($"w")
        .agg(count(lit(1)).as("n_docs"),
          sum(when($"rel" >= 1, 1L).otherwise(0L)).as("n_rel"),
          sum(when($"rank" <= 10,
            $"rel" * expr("shiftleft(1L, CAST(10 - rank AS INT))"))
            .otherwise(0L)).as("dcg_i"),
          sum(when($"irank" <= 10,
            $"rel" * expr("shiftleft(1L, CAST(10 - irank AS INT))"))
            .otherwise(0L)).as("idcg_i"),
          min(when($"rel" >= 2, $"rank")).as("first_rel"))
        .select($"w", $"n_docs", $"n_rel", $"dcg_i", $"idcg_i",
          when($"idcg_i" > 0,
            $"dcg_i".cast(DoubleType) / $"idcg_i".cast(DoubleType))
            .otherwise(0.0).as("ndcg"),
          coalesce(lit(1.0) / $"first_rel".cast(DoubleType), lit(0.0))
            .as("mrr"))
        .orderBy($"w")
    },
    Some("""
      WITH toks AS (
        SELECT doc_id, CAST(length(string_split(text, ' ')) AS BIGINT) AS dl,
          unnest(string_split(text, ' ')) AS w
        FROM documents),
      tf AS (
        SELECT w, doc_id, CAST(COUNT(*) AS BIGINT) AS tf, ANY_VALUE(dl) AS dl
        FROM toks WHERE w IN ('spark', 'join', 'window', 'hash')
        GROUP BY 1, 2),
      rel AS (
        SELECT w, doc_id, tf,
          CASE WHEN tf * 9 >= dl THEN 2
               WHEN tf * 14 >= dl THEN 1 ELSE 0 END AS rel
        FROM tf),
      ranked AS (
        SELECT *,
          row_number() OVER (PARTITION BY w ORDER BY tf DESC, doc_id) AS rank,
          row_number() OVER (PARTITION BY w ORDER BY rel DESC, doc_id) AS irank
        FROM rel)
      SELECT w, CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(CASE WHEN rel >= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_rel,
        CAST(SUM(CASE WHEN rank <= 10 THEN rel * (1 << (10 - rank)) ELSE 0 END) AS BIGINT) AS dcg_i,
        CAST(SUM(CASE WHEN irank <= 10 THEN rel * (1 << (10 - irank)) ELSE 0 END) AS BIGINT) AS idcg_i,
        CASE WHEN SUM(CASE WHEN irank <= 10 THEN rel * (1 << (10 - irank)) ELSE 0 END) > 0
          THEN CAST(SUM(CASE WHEN rank <= 10 THEN rel * (1 << (10 - rank)) ELSE 0 END) AS DOUBLE)
             / CAST(SUM(CASE WHEN irank <= 10 THEN rel * (1 << (10 - irank)) ELSE 0 END) AS DOUBLE)
          ELSE 0.0 END AS ndcg,
        COALESCE(1.0 / CAST(MIN(CASE WHEN rel >= 2 THEN rank END) AS DOUBLE), 0.0) AS mrr
      FROM ranked GROUP BY w ORDER BY w"""))

  /** p98 — Unicode canonical-form (NFC) dedup audit: the corpus is
    * re-crawled with different encoders — every doc containing an 'e'
    * ships with its first 'e' as DECOMPOSED e+U+0301, and docs with
    * doc_id ≡ 1 (mod 3) arrive a SECOND time with the PRECOMPOSED U+00E9
    * (same text, different bytes — real crawl provenance). Raw
    * fingerprinting (md5 of bytes) keeps both copies — a dedup miss; NFC
    * normalization first (functions.NfcNormalize, a codegen'd Catalyst
    * expression over java.text.Normalizer; DuckDB twin: built-in
    * nfc_normalize) collapses them. Per source: rows, re-crawled copies,
    * distinct raw vs distinct NFC fingerprints, and the collapse count —
    * which must equal the re-crawl count, the misses only normalization
    * catches.
    *
    * 100 TB shape: mutation + normalization are narrow per-row codegen;
    * the only shuffle is the per-source distinct-count aggregate.
    */
  private val p98 = Q(
    "p98_nfc_normalize",
    (s, d) => {
      import s.implicits._
      val docs = T(s, d, "documents")
        .withColumn("pos", instr($"text", "e"))
        // Decomposed first crawl (e + combining acute U+0301)...
        .withColumn("v_dec",
          when($"pos" > 0,
            concat($"text".substr(lit(1), $"pos" - 1),
              lit("e\u0301"), $"text".substr($"pos" + 1, length($"text"))))
            .otherwise($"text"))
        // ...and the precomposed re-crawl (U+00E9), same text as bytes-2.
        .withColumn("v_pre",
          concat($"text".substr(lit(1), $"pos" - 1),
            lit("\u00e9"), $"text".substr($"pos" + 1, length($"text"))))
      val crawls = docs.select($"source", $"doc_id", $"pos",
        explode(when($"pos" > 0 && $"doc_id" % 3 === 1,
          array($"v_dec", $"v_pre")).otherwise(array($"v_dec")))
          .as("variant"))
      crawls
        .select($"source", $"doc_id", $"pos", $"variant",
          graft.functions.TextFunctions.nfc_normalize($"variant").as("nfc"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_rows"),
          countDistinct($"doc_id").as("n_docs"),
          countDistinct(when($"pos" > 0 && $"doc_id" % 3 === 1, $"doc_id"))
            .as("n_recrawled"),
          countDistinct(md5($"variant")).as("n_raw_fps"),
          countDistinct(md5($"nfc")).as("n_nfc_fps"))
        .select($"source", $"n_rows", $"n_docs", $"n_recrawled",
          $"n_raw_fps", $"n_nfc_fps",
          ($"n_raw_fps" - $"n_nfc_fps").as("n_collapsed"))
        .orderBy($"source")
    },
    Some("""
      WITH v AS (
        SELECT source, doc_id, strpos(text, 'e') AS pos,
          CASE WHEN strpos(text, 'e') > 0 THEN
            substr(text, 1, strpos(text, 'e') - 1) || 'e' || chr(769)
              || substr(text, strpos(text, 'e') + 1)
          ELSE text END AS v_dec,
          substr(text, 1, strpos(text, 'e') - 1) || chr(233)
            || substr(text, strpos(text, 'e') + 1) AS v_pre
        FROM documents),
      crawls AS (
        SELECT source, doc_id, pos, v_dec AS variant FROM v
        UNION ALL
        SELECT source, doc_id, pos, v_pre FROM v
        WHERE pos > 0 AND doc_id % 3 = 1),
      n AS (SELECT source, doc_id, pos, variant,
              nfc_normalize(variant) AS nfc FROM crawls)
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_rows,
        CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
        CAST(COUNT(DISTINCT CASE WHEN pos > 0 AND doc_id % 3 = 1
          THEN doc_id END) AS BIGINT) AS n_recrawled,
        CAST(COUNT(DISTINCT md5(variant)) AS BIGINT) AS n_raw_fps,
        CAST(COUNT(DISTINCT md5(nfc)) AS BIGINT) AS n_nfc_fps,
        CAST(COUNT(DISTINCT md5(variant)) AS BIGINT)
          - CAST(COUNT(DISTINCT md5(nfc)) AS BIGINT) AS n_collapsed
      FROM n GROUP BY source ORDER BY source"""))

  /** p99 — priority-keep cross-source dedup: when the same content (the
    * p94 vocabulary fingerprint) appears in several sources, keep the
    * copy from the HIGHEST-priority source (priority = the source's
    * numeric suffix, lower = more curated; ties inside a source break to
    * the smaller doc_id) — the quality-aware generalization of p01's
    * "keep min doc_id". Reported per source: docs held, distinct
    * fingerprints present, fingerprints WON (this source supplies the
    * surviving copy), fingerprints yielded to a better source.
    *
    * 100 TB shape: one digest shuffle; the winner is a map-side
    * partial-aggregatable min_by(struct(prio, doc_id)) — no window, no
    * sort, no second scan of text.
    */
  private val p99 = Q(
    "p99_priority_keep",
    (s, d) => {
      import s.implicits._
      val ds = T(s, d, "documents")
        .select($"doc_id", $"source",
          substring($"source", 4, 10).cast(IntegerType).as("prio"),
          md5(expr(
            "array_join(sort_array(array_distinct(split(text, ' '))), ' ')"))
            .as("fp"))
      val winners = ds.groupBy($"fp")
        .agg(min_by($"source", struct($"prio", $"doc_id")).as("win_source"))
      val won = winners.groupBy($"win_source").agg(count(lit(1)).as("n_won"))
      ds.groupBy($"source")
        .agg(count(lit(1)).as("n_docs"), countDistinct($"fp").as("n_fps"))
        .join(won, $"source" === $"win_source", "left_outer")
        .select($"source", $"n_docs", $"n_fps",
          coalesce($"n_won", lit(0L)).as("n_won"),
          ($"n_fps" - coalesce($"n_won", lit(0L))).as("n_yielded"))
        .orderBy($"source")
    },
    Some("""
      WITH ds AS (
        SELECT doc_id, source, CAST(substr(source, 4) AS INT) AS prio,
          md5(array_to_string(list_sort(list_distinct(
            string_split(text, ' '))), ' ')) AS fp
        FROM documents),
      ranked AS (
        SELECT fp, source,
          row_number() OVER (PARTITION BY fp ORDER BY prio, doc_id) AS rn
        FROM ds),
      won AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_won
              FROM ranked WHERE rn = 1 GROUP BY source)
      SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(COUNT(DISTINCT d.fp) AS BIGINT) AS n_fps,
        COALESCE(ANY_VALUE(won.n_won), 0) AS n_won,
        CAST(COUNT(DISTINCT d.fp) AS BIGINT)
          - COALESCE(ANY_VALUE(won.n_won), 0) AS n_yielded
      FROM ds d LEFT JOIN won ON won.source = d.source
      GROUP BY d.source ORDER BY d.source"""))

  /** p100 — checksum-validated PII detection (credit-card numbers with
    * Luhn): docs with doc_id ≡ 0 (mod 7) get a deterministic 16-digit
    * card number appended (digits from md5(doc_id), check digit computed
    * by Luhn; every other injected card gets its check digit corrupted
    * +5 mod 10) — then the DETECTOR side re-extracts 16-digit runs and
    * validates the checksum, splitting hits into luhn-valid (report:
    * real PII) and luhn-invalid (suppress: false positive). Checksum
    * gating is what keeps a 100 TB PII scan's false-positive rate usable
    * — p27 scrubs by pattern, this validates by arithmetic.
    *
    * Everything is integer digit math, unrolled (no interpreted
    * higher-order fold — 15/16 fixed terms inside codegen), identical in
    * both engines. One shuffle: the per-source rollup.
    */
  private val p100 = Q(
    "p100_luhn_pii",
    (s, d) => {
      import s.implicits._
      // digit i (1..15) of the injected card: md5 hex nibble mod 10
      def dig(i: Int): Column = expr(
        s"CAST(conv(substr(md5(CAST(doc_id AS STRING) || '_cc'), $i, 1), " +
          "16, 10) AS INT) % 10")
      def dbl(c: Column): Column = {
        val t = c * 2
        when(t > 9, t - 9).otherwise(t)
      }
      // payload position i (from left, 1..15) sits at even position from
      // the right of the 16-digit number when i is odd → doubled
      val luhnSum = (1 to 15).map(i =>
        if (i % 2 == 1) dbl(dig(i)) else dig(i)).reduce(_ + _)
      val check = (lit(10) - (luhnSum % 10)) % 10
      val checkOut = when($"doc_id" % 14 === 7, (check + 5) % 10)
        .otherwise(check)
      val cc = concat(
        (1 to 15).map(i => dig(i).cast(StringType)) :+
          checkOut.cast(StringType): _*)
      val docs = T(s, d, "documents")
        .withColumn("text2",
          when($"doc_id" % 7 === 0, concat($"text", lit(" "), cc))
            .otherwise($"text"))
        .withColumn("tok", regexp_extract($"text2", "[0-9]{16}", 0))
      // detector: Luhn over the EXTRACTED token (i odd from left = even
      // from right → doubled; i=16 is the check digit, added as-is)
      // try_cast, not CAST: ANSI mode throws on tok = '' (no match)
      def tokDig(i: Int): Column =
        expr(s"try_cast(substr(tok, $i, 1) AS INT)")
      val tokSum = (1 to 16).map(i =>
        if (i % 2 == 1) dbl(tokDig(i)) else tokDig(i)).reduce(_ + _)
      docs
        .select($"source",
          (length($"tok") === 16).as("has_cc"),
          (length($"tok") === 16 && tokSum % 10 === 0).as("valid"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when($"has_cc", 1L).otherwise(0L)).as("n_with_cc"),
          sum(when($"valid", 1L).otherwise(0L)).as("n_luhn_valid"),
          sum(when($"has_cc" && !$"valid", 1L).otherwise(0L))
            .as("n_luhn_invalid"))
        .orderBy($"source")
    },
    Some {
      def dig(i: Int) =
        s"(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '_cc'), $i, 1))::INT % 10)"
      def dbl(t: String) =
        s"(CASE WHEN $t > 9 THEN $t - 9 ELSE $t END)"
      val luhnSum = (1 to 15).map(i =>
        if (i % 2 == 1) dbl(s"(${dig(i)} * 2)") else dig(i)).mkString(" + ")
      val ccDigits = (1 to 15).map(i => s"CAST(${dig(i)} AS VARCHAR)")
        .mkString(" || ")
      // TRY_CAST: DuckDB's vectorized CASE still evaluates the sum on
      // rows where tok = '' (no short-circuit), and strict CAST('') errors
      def tokDig(i: Int) = s"TRY_CAST(substr(tok, $i, 1) AS INT)"
      val tokSum = (1 to 16).map(i =>
        if (i % 2 == 1) dbl(s"(${tokDig(i)} * 2)") else tokDig(i))
        .mkString(" + ")
      s"""
      WITH base AS (
        SELECT source, doc_id, text,
          (10 - (($luhnSum) % 10)) % 10 AS chk
        FROM documents),
      inj AS (
        SELECT source, doc_id,
          CASE WHEN doc_id % 7 = 0 THEN
            text || ' ' || $ccDigits ||
              CAST(CASE WHEN doc_id % 14 = 7 THEN (chk + 5) % 10
                   ELSE chk END AS VARCHAR)
          ELSE text END AS text2
        FROM base),
      det AS (
        SELECT source,
          COALESCE(regexp_extract(text2, '[0-9]{16}', 0), '') AS tok
        FROM inj)
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(CASE WHEN length(tok) = 16 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_with_cc,
        CAST(SUM(CASE WHEN length(tok) = 16 AND ($tokSum) % 10 = 0
          THEN 1 ELSE 0 END) AS BIGINT) AS n_luhn_valid,
        CAST(SUM(CASE WHEN length(tok) = 16 AND ($tokSum) % 10 <> 0
          THEN 1 ELSE 0 END) AS BIGINT) AS n_luhn_invalid
      FROM det GROUP BY source ORDER BY source"""
    })

  /** p101 — vocabulary head-mass coverage: what share of all token
    * occurrences the top-10 / top-100 / top-1000 most frequent types
    * cover (the tokenizer-design curve: how much of the corpus a small
    * vocab already explains; k = 3/5/10 against this corpus's ~31-type
    * vocabulary — the production ks scale with |vocab|). Ranks break
    * ties by token text; shares are
    * exact integer ppm (covered·1e6 / total, BIGINT division — identical
    * in both engines, no floats anywhere).
    *
    * 100 TB shape: one partial-agg count shuffle sized by the vocabulary
    * (not the corpus); the totals are a plain two-column aggregate and
    * the head travels via TakeOrdered (`orderBy.limit(10)` — per-
    * partition heaps, no global sort), so the rank window runs on a
    * ≤10-row single partition (the frame IS the limit) — a whitespace
    * vocabulary at 100 TB is billions of types, and an unpartitioned
    * row_number over it would be a single-reducer global sort (p109's
    * pattern, the round-9 verdict's one flagged scale-killer, fixed).
    */
  private val p101 = Q(
    "p101_head_mass",
    (s, d) => {
      import s.implicits._
      val counts = T(s, d, "documents")
        .select(explode(split($"text", " ")).as("w"))
        .filter($"w" =!= "")
        .groupBy($"w").agg(count(lit(1)).as("c"))
      val totals = counts.agg(
        sum($"c").as("total_tokens"),
        count(lit(1)).as("distinct_vocab"))
      val head = counts.orderBy($"c".desc, $"w").limit(10)
      val ranked = head.withColumn("r",
        row_number().over(Window.orderBy($"c".desc, $"w")))
      ranked.agg(
          sum(when($"r" <= 3, $"c").otherwise(0L)).as("m3"),
          sum(when($"r" <= 5, $"c").otherwise(0L)).as("m5"),
          sum(when($"r" <= 10, $"c").otherwise(0L)).as("m10"))
        .crossJoin(broadcast(totals))
        .select($"total_tokens", $"distinct_vocab",
          // `div`, not `/`: Spark's Divide is double division; the ppm
          // share must stay an exact BIGINT in both engines
          expr("m3 * 1000000 div total_tokens").as("top3_ppm"),
          expr("m5 * 1000000 div total_tokens").as("top5_ppm"),
          expr("m10 * 1000000 div total_tokens").as("top10_ppm"))
    },
    Some("""
      WITH counts AS (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM (
          SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        WHERE w <> '' GROUP BY w),
      ranked AS (
        SELECT c, row_number() OVER (ORDER BY c DESC, w) AS r FROM counts)
      SELECT CAST(SUM(c) AS BIGINT) AS total_tokens,
        CAST(COUNT(*) AS BIGINT) AS distinct_vocab,
        (CAST(SUM(CASE WHEN r <= 3 THEN c ELSE 0 END) AS BIGINT) * 1000000)
          // CAST(SUM(c) AS BIGINT) AS top3_ppm,
        (CAST(SUM(CASE WHEN r <= 5 THEN c ELSE 0 END) AS BIGINT) * 1000000)
          // CAST(SUM(c) AS BIGINT) AS top5_ppm,
        (CAST(SUM(CASE WHEN r <= 10 THEN c ELSE 0 END) AS BIGINT) * 1000000)
          // CAST(SUM(c) AS BIGINT) AS top10_ppm
      FROM ranked"""))

  /** p102 — length/quality confound audit via exact Spearman rank
    * correlation: per source, rho between document length (n_chars) and
    * a stopword-count quality proxy. Is the "quality" signal just length
    * in disguise? Ranks use a deterministic doc_id tie-break (documented
    * variant of Spearman — identically replayed on both engines), so
    * Σd² is an exact BIGINT and rho = 1 − 6Σd²/(n(n²−1)) is ONE double
    * division plus one exact subtraction — IEEE-identical everywhere.
    * (Exactness bound: 6Σd² < 2⁵³ holds through ~200k docs per source —
    * two decades above the largest gated sf.)
    *
    * 100 TB shape: two source-partitioned rank windows over one sort
    * each + a partial-aggregatable rollup; no global window, no floats
    * in the shuffled state.
    */
  private val p102 = Q(
    "p102_len_quality_rho",
    (s, d) => {
      import s.implicits._
      val stopList = stops.map(w => s"'$w'").mkString("(", ", ", ")")
      val base = T(s, d, "documents")
        .select($"source", $"doc_id", $"n_chars",
          expr(s"size(filter(split(text, ' '), t -> t IN $stopList))")
            .cast(LongType).as("n_stop"))
      val wLen = Window.partitionBy($"source")
        .orderBy($"n_chars", $"doc_id")
      val wQ = Window.partitionBy($"source").orderBy($"n_stop", $"doc_id")
      base
        .withColumn("r_len", row_number().over(wLen).cast(LongType))
        .withColumn("r_q", row_number().over(wQ).cast(LongType))
        .groupBy($"source")
        .agg(count(lit(1)).as("n"),
          sum(($"r_len" - $"r_q") * ($"r_len" - $"r_q")).as("sum_d2"))
        .select($"source", $"n", $"sum_d2",
          (lit(1.0) - (($"sum_d2" * 6L).cast(DoubleType) /
            ($"n" * ($"n" * $"n" - 1L)).cast(DoubleType))).as("rho"))
        .orderBy($"source")
    },
    Some("""
      WITH base AS (
        SELECT source, doc_id, n_chars,
          CAST(length(list_filter(string_split(text, ' '),
            t -> t IN ('the', 'a', 'of', 'and', 'to', 'in'))) AS BIGINT)
            AS n_stop
        FROM documents),
      ranked AS (
        SELECT source,
          CAST(row_number() OVER (PARTITION BY source
            ORDER BY n_chars, doc_id) AS BIGINT) AS r_len,
          CAST(row_number() OVER (PARTITION BY source
            ORDER BY n_stop, doc_id) AS BIGINT) AS r_q
        FROM base)
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM((r_len - r_q) * (r_len - r_q)) AS BIGINT) AS sum_d2,
        1.0 - (CAST(SUM((r_len - r_q) * (r_len - r_q)) * 6 AS DOUBLE) /
               CAST(COUNT(*) * (COUNT(*) * COUNT(*) - 1) AS DOUBLE)) AS rho
      FROM ranked GROUP BY source ORDER BY source"""))

  /** p103 — k-anonymity audit: before events ship as training data or
    * analytics exports, how re-identifiable are they? Quasi-identifier =
    * (event_type, day, value bucket); a group with fewer than k=5
    * distinct users is "unsafe" (its members are narrowable to <5
    * people), and the suppression ledger counts the events a k-anonymous
    * release would have to drop, per event type. Day is exact integer
    * epoch-µs floor-division (p55's grain); the value bucket is one
    * floor(value/50) — a single IEEE double divide+floor, identical in
    * both engines; everything after is BIGINT.
    *
    * 100 TB shape: countDistinct(user) partial-aggregates on
    * (QI, user) before the distinct count, so the wide state is the
    * distinct pair set, not the event stream; the rollup is |QI groups|
    * rows (bounded by types × days × buckets, not by corpus).
    */
  private val p103 = Q(
    "p103_k_anonymity",
    (s, d) => {
      import s.implicits._
      val groups = T(s, d, "events")
        .select($"event_type", expr("unix_micros(ts) div 86400000000").as("day"),
          expr("CAST(floor(value / 50.0D) AS BIGINT)").as("vb"), $"user_id")
        .groupBy($"event_type", $"day", $"vb")
        .agg(countDistinct($"user_id").as("n_users"),
          count(lit(1)).as("n_events"))
      groups.groupBy($"event_type")
        .agg(count(lit(1)).as("n_groups"),
          sum(when($"n_users" < 5, 1L).otherwise(0L)).as("unsafe_groups"),
          sum($"n_events").as("n_events"),
          sum(when($"n_users" < 5, $"n_events").otherwise(0L))
            .as("suppressed_events"))
        .select($"event_type", $"n_groups", $"unsafe_groups", $"n_events",
          $"suppressed_events",
          expr("suppressed_events * 1000000L div n_events")
            .as("suppressed_ppm"))
        .orderBy($"event_type")
    },
    Some("""
      WITH g AS (
        SELECT event_type, epoch_us(ts) // 86400000000 AS day,
          CAST(floor(value / 50.0) AS BIGINT) AS vb,
          CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
          CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events GROUP BY 1, 2, 3)
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_groups,
        CAST(SUM(CASE WHEN n_users < 5 THEN 1 ELSE 0 END) AS BIGINT)
          AS unsafe_groups,
        CAST(SUM(n_events) AS BIGINT) AS n_events,
        CAST(SUM(CASE WHEN n_users < 5 THEN n_events ELSE 0 END) AS BIGINT)
          AS suppressed_events,
        CAST(SUM(CASE WHEN n_users < 5 THEN n_events ELSE 0 END) AS BIGINT)
          * 1000000 // CAST(SUM(n_events) AS BIGINT) AS suppressed_ppm
      FROM g GROUP BY event_type ORDER BY event_type"""))

  /** p104 — principal dimension by integer power iteration: the PCA step
    * p66's covariance pass feeds — which embedding dimension carries the
    * corpus's dominant variance direction? Three unrolled rounds of
    * v ← C·v over the FULL 64×64 covariance-numerator matrix, all in
    * exact integer arithmetic: elements milli-quantized (p60 pattern),
    * covariance numerators n·Σxy − Σx·Σy in DECIMAL(38,0), cells scaled
    * to BIGINT by a sign-decomposed floor-division (sign(c)·(|c| div
    * 10⁴) — never a bare `div` on a negative: Spark truncates toward
    * zero, DuckDB `//` floors, so only the nonnegative half is shared
    * semantics). Each round renormalizes v to ±10⁶ by the max-|component|
    * (again sign-decomposed), so every value stays far inside
    * DECIMAL(38,0) at any corpus size and the whole fixpoint is
    * bit-identical cross-engine. v₀ = all-ones ⇒ no RNG.
    *
    * 100 TB shape: the corpus is read ONCE (one posexplode stats pass +
    * the p52/p66 in-row slice generator for pairwise products —
    * partial-aggregated to ≤64²=4096 cells map-side); the iteration then
    * runs on 4096-row × 64-row broadcast joins whose cost is independent
    * of corpus size. Cells are pinned once, v pinned per round (p42's
    * fixpoint discipline).
    */
  private val p104 = Q(
    "p104_principal_dim",
    (s, d) => {
      import s.implicits._
      val e = T(s, d, "embeddings").filter(size($"embedding") === 64)
        .select(expr(
          """transform(embedding, x ->
               CAST(floor(CAST(x AS DOUBLE) * 1000.0D + 0.5D) AS BIGINT))""")
          .as("e3"))
      val ex = e.select(posexplode($"e3").as(Seq("i", "x")))
      val si = ex.groupBy($"i")
        .agg(sum($"x".cast(DecimalType(38, 0))).as("s_i"),
          count(lit(1)).as("n"))
      // i <= j products expand INSIDE each row (slice from 1-based i+1 =
      // 0-based i..63), so the shuffle is at most 64*65/2 cells.
      val sij = e
        .select($"e3", posexplode($"e3").as(Seq("i", "xi")))
        .select($"i", $"xi",
          posexplode(expr("slice(e3, i + 1, 64)")).as(Seq("dj", "xj")))
        .groupBy($"i", ($"i" + $"dj").cast(IntegerType).as("j"))
        .agg(sum(($"xi" * $"xj").cast(DecimalType(38, 0))).as("s_ij"))
      val a = si.select($"i", $"s_i".as("s_a"), $"n")
      val b = si.select($"i".as("j"), $"s_i".as("s_b"))
      val up = sij.join(broadcast(a), "i").join(broadcast(b), "j")
        .select($"i", $"j",
          (($"n".cast(DecimalType(38, 0)) * $"s_ij") - $"s_a" * $"s_b")
            .cast(DecimalType(38, 0)).as("cnum"))
        .select($"i", $"j",
          (when($"cnum" < 0, -1L).otherwise(1L) *
            expr("abs(cnum) div 10000L")).as("c"))
      // Mirror the strict upper triangle: C is symmetric EXACTLY (the
      // scaled cell, not the raw numerator, is copied — no re-derive).
      val cells = pin(up.unionAll(
        up.filter($"i" =!= $"j")
          .select($"j".as("i"), $"i".as("j"), $"c")))
      var v = si.select($"i".as("j"), lit(1000000L).as("v"))
      for (_ <- 1 to 3) {
        val w = cells.join(broadcast(v), "j")
          .groupBy($"i")
          .agg(sum($"c".cast(DecimalType(20, 0)) *
            $"v".cast(DecimalType(12, 0))).as("w"))
        val m = w.agg(greatest(max(abs($"w")),
          lit(1).cast(DecimalType(38, 0))).as("m"))
        v = pin(w.crossJoin(broadcast(m))
          .select($"i".as("j"),
            (when($"w" < 0, -1L).otherwise(1L) *
              expr("(abs(w) * 1000000L) div m")).as("v")))
      }
      v.select($"j".as("dim"), $"v".as("loading_ppm"))
        .orderBy(abs($"v").desc, $"j").limit(8)
    },
    Some("""
      WITH e AS (SELECT vec_id, list_transform(embedding, x ->
                   CAST(floor(CAST(x AS DOUBLE) * 1000.0 + 0.5) AS BIGINT))
                   AS e3
                 FROM embeddings WHERE len(embedding) = 64),
      ex AS (SELECT vec_id, CAST(i AS INT) AS i, e3[CAST(i AS INT)+1] AS x
             FROM e, UNNEST(range(0, 64)) t(i)),
      si AS (SELECT i, CAST(SUM(x) AS HUGEINT) AS s_i,
               CAST(COUNT(*) AS HUGEINT) AS n FROM ex GROUP BY i),
      sij AS (SELECT a.i AS i, b.i AS j,
                CAST(SUM(CAST(a.x AS HUGEINT) * b.x) AS HUGEINT) AS s_ij
              FROM ex a JOIN ex b ON a.vec_id = b.vec_id
              GROUP BY a.i, b.i),
      cells AS (SELECT i, j,
          (CASE WHEN cnum < 0 THEN -1 ELSE 1 END) * (abs(cnum) // 10000)
            AS c
        FROM (SELECT s.i, s.j, a.n * s.s_ij - a.s_i * b.s_i AS cnum
              FROM sij s JOIN si a ON s.i = a.i JOIN si b ON s.j = b.i)),
      v0 AS (SELECT i AS j, CAST(1000000 AS HUGEINT) AS v FROM si),
      w1 AS (SELECT c.i, SUM(c.c * v.v) AS w FROM cells c
             JOIN v0 v ON c.j = v.j GROUP BY c.i),
      m1 AS (SELECT GREATEST(MAX(abs(w)), 1) AS m FROM w1),
      v1 AS (SELECT i AS j, (CASE WHEN w < 0 THEN -1 ELSE 1 END) *
               (abs(w) * 1000000 // m) AS v FROM w1, m1),
      w2 AS (SELECT c.i, SUM(c.c * v.v) AS w FROM cells c
             JOIN v1 v ON c.j = v.j GROUP BY c.i),
      m2 AS (SELECT GREATEST(MAX(abs(w)), 1) AS m FROM w2),
      v2 AS (SELECT i AS j, (CASE WHEN w < 0 THEN -1 ELSE 1 END) *
               (abs(w) * 1000000 // m) AS v FROM w2, m2),
      w3 AS (SELECT c.i, SUM(c.c * v.v) AS w FROM cells c
             JOIN v2 v ON c.j = v.j GROUP BY c.i),
      m3 AS (SELECT GREATEST(MAX(abs(w)), 1) AS m FROM w3),
      v3 AS (SELECT i AS j, (CASE WHEN w < 0 THEN -1 ELSE 1 END) *
               (abs(w) * 1000000 // m) AS v FROM w3, m3)
      SELECT CAST(j AS INT) AS dim, CAST(v AS BIGINT) AS loading_ppm
      FROM v3 ORDER BY abs(v) DESC, j LIMIT 8"""))

  /** p105 — positional phrase search: exact-phrase retrieval ("join part
    * filter") through the positional-inverted-index topology — per-term
    * posting lists of (doc_id, position), adjacency by joining term t's
    * postings against term t+1's shifted by one. The complement of p34's
    * conjunctive bag-of-words probe: order and adjacency matter here.
    * Counts are integers; nothing floating anywhere.
    *
    * 100 TB shape: only the THREE query terms' postings survive the
    * filter (the IN-list prunes inside the narrow token explode — the
    * corpus never shuffles); the adjacency joins co-partition on
    * (doc_id, pos) and are sized by posting-list lengths, exactly how a
    * distributed phrase query probes a sharded index.
    */
  private val p105 = Q(
    "p105_phrase_search",
    (s, d) => {
      import s.implicits._
      // Fixed query phrase, chosen to occur at every shipped SF so the
      // gate row is never trivially empty.
      val phrase = Seq("join", "part", "filter")
      val toks = T(s, d, "documents")
        .select($"doc_id", posexplode(split($"text", " ")).as(Seq("pos", "w")))
        .filter($"w".isin(phrase: _*))
      val t0 = toks.filter($"w" === phrase(0)).select($"doc_id", $"pos")
      val t1 = toks.filter($"w" === phrase(1))
        .select($"doc_id", ($"pos" - 1).as("pos"))
      val t2 = toks.filter($"w" === phrase(2))
        .select($"doc_id", ($"pos" - 2).as("pos"))
      t0.join(t1, Seq("doc_id", "pos")).join(t2, Seq("doc_id", "pos"))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_hits"), min($"pos").as("first_pos"))
        .orderBy($"n_hits".desc, $"doc_id").limit(10)
    },
    Some("""
      WITH toks AS (
        SELECT doc_id, CAST(i - 1 AS INT) AS pos, a[CAST(i AS INT)] AS w
        FROM (SELECT doc_id, string_split(text, ' ') AS a FROM documents),
             UNNEST(range(1, len(a) + 1)) t(i)),
      t0 AS (SELECT doc_id, pos FROM toks WHERE w = 'join'),
      t1 AS (SELECT doc_id, pos - 1 AS pos FROM toks WHERE w = 'part'),
      t2 AS (SELECT doc_id, pos - 2 AS pos FROM toks WHERE w = 'filter')
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits,
        CAST(MIN(pos) AS INT) AS first_pos
      FROM t0 JOIN t1 USING (doc_id, pos) JOIN t2 USING (doc_id, pos)
      GROUP BY doc_id ORDER BY n_hits DESC, doc_id LIMIT 10"""))

  /** p106 — quality-filter threshold sensitivity sweep: before a 100 TB
    * filtering run commits to a stopword-ratio cutoff, how much of each
    * source survives at EVERY candidate threshold? Per-doc stopword ppm
    * (exact integer, p04's signal), bucketed into ten 2%-wide threshold
    * rungs (capped at the 18% rung); a descending cumulative window then
    * reads out docs/tokens retained at "keep if stop_ppm >= t" for each
    * rung — the retention curve that shows where a cutoff starts starving
    * a source. All integer: ppm by BIGINT floor-division (operands
    * nonnegative, so Spark `div` and DuckDB `//` agree).
    *
    * 100 TB shape: one corpus pass partial-aggregates to at most
    * |sources| x 10 cells; the sweep windows run on that rollup, so
    * evaluating ten thresholds costs the same one shuffle as evaluating
    * one — the reason to sweep declaratively instead of re-running the
    * filter per candidate cutoff.
    */
  private val p106 = Q(
    "p106_filter_sweep",
    (s, d) => {
      import s.implicits._
      val stopList = stops.map(w => s"'$w'").mkString("(", ", ", ")")
      val perDoc = T(s, d, "documents")
        .select($"source",
          size(split($"text", " ")).cast(LongType).as("n_tokens"),
          expr(s"CAST(size(filter(split(text, ' '), t -> t IN $stopList)) AS BIGINT)")
            .as("n_stop"))
        .select($"source", $"n_tokens",
          expr("least((n_stop * 1000000L div n_tokens) div 20000L, 9L)")
            .as("bucket"))
      val g = perDoc.groupBy($"source", $"bucket")
        .agg(count(lit(1)).as("n_docs"), sum($"n_tokens").as("n_toks"))
      val cum = Window.partitionBy($"source").orderBy($"bucket".desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = Window.partitionBy($"source")
      g.select($"source", ($"bucket" * 20000L).as("threshold_ppm"),
          sum($"n_docs").over(cum).as("docs_kept"),
          sum($"n_toks").over(cum).as("tokens_kept"),
          sum($"n_docs").over(tot).as("total_docs"))
        .select($"source", $"threshold_ppm", $"docs_kept", $"tokens_kept",
          expr("docs_kept * 1000000L div total_docs").as("docs_kept_ppm"))
        .orderBy($"source", $"threshold_ppm")
    },
    Some("""
      WITH perdoc AS (
        SELECT source,
          CAST(length(string_split(text, ' ')) AS BIGINT) AS n_tokens,
          CAST(length(list_filter(string_split(text, ' '),
            t -> t IN ('the', 'a', 'of', 'and', 'to', 'in'))) AS BIGINT)
            AS n_stop
        FROM documents),
      b AS (SELECT source, n_tokens,
              LEAST((n_stop * 1000000 // n_tokens) // 20000, 9) AS bucket
            FROM perdoc),
      g AS (SELECT source, bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
              CAST(SUM(n_tokens) AS BIGINT) AS n_toks
            FROM b GROUP BY 1, 2),
      w AS (SELECT source, bucket * 20000 AS threshold_ppm,
              SUM(n_docs) OVER (PARTITION BY source ORDER BY bucket DESC)
                AS docs_kept,
              SUM(n_toks) OVER (PARTITION BY source ORDER BY bucket DESC)
                AS tokens_kept,
              SUM(n_docs) OVER (PARTITION BY source) AS total_docs
            FROM g)
      SELECT source, CAST(threshold_ppm AS BIGINT) AS threshold_ppm,
        CAST(docs_kept AS BIGINT) AS docs_kept,
        CAST(tokens_kept AS BIGINT) AS tokens_kept,
        CAST(docs_kept * 1000000 // total_docs AS BIGINT) AS docs_kept_ppm
      FROM w ORDER BY source, threshold_ppm"""))

  /** p107 — per-dimension label discriminability (exact-integer one-way
    * ANOVA): which embedding dimensions actually separate the `label`
    * classes? For each of the 64 dims, the between-class and within-class
    * sum-of-squares over milli-quantized values (p60 pattern), via the
    * partial-aggregable identities SSB = sum_l S_l^2/n_l - S^2/n and
    * SSW = Q - sum_l S_l^2/n_l, everything scaled x1000 and floor-divided
    * while still NONNEGATIVE (Spark `div` truncates toward zero, DuckDB
    * `//` floors — shared semantics only on the nonnegative half; the one
    * possibly-negative value, the floor-error residual of ssb, is clamped
    * by greatest(_, 0) before the final ratio). The F-style ratio ranks
    * dims for feature selection before a training run.
    *
    * 100 TB shape: one corpus pass partial-aggregates to (dim, label)
    * cells — at most 64 x |labels| rows cross the wire regardless of
    * corpus size; the per-dim rollup and ranking run on that. The
    * x1000-scaled quotients fit BIGINT through the gated decades
    * (sf10: ~2e16); the production form at 1e10+ rows keeps the division
    * in DECIMAL(38,0).
    */
  private val p107 = Q(
    "p107_dim_anova",
    (s, d) => {
      import s.implicits._
      val e = T(s, d, "embeddings").filter(size($"embedding") === 64)
        .select($"label", expr(
          """transform(embedding, x ->
               CAST(floor(CAST(x AS DOUBLE) * 1000.0D + 0.5D) AS BIGINT))""")
          .as("e3"))
      val ex = e.select($"label", posexplode($"e3").as(Seq("i", "x")))
      val g1 = ex.groupBy($"i", $"label")
        .agg(count(lit(1)).as("n_l"),
          sum($"x".cast(DecimalType(38, 0))).as("s_l"),
          sum(($"x" * $"x").cast(DecimalType(38, 0))).as("q_l"))
      val g2 = g1.groupBy($"i")
        .agg(sum($"n_l").as("n"), sum($"s_l").as("s"), sum($"q_l").as("q"),
          sum(expr("(s_l * s_l * 1000) div n_l").cast(DecimalType(38, 0)))
            .as("ssbq"))
      g2.select($"i",
          expr("ssbq - (s * s * 1000) div n").as("ssb"),
          expr("q * 1000 - ssbq").as("ssw"))
        .select($"i".cast(IntegerType).as("dim"),
          $"ssb".cast(LongType).as("ssb_milli"),
          $"ssw".cast(LongType).as("ssw_milli"),
          expr("(greatest(ssb, CAST(0 AS DECIMAL(38,0))) * 1000000) " +
            "div greatest(ssw, CAST(1 AS DECIMAL(38,0)))").as("f_ppm"))
        .orderBy($"f_ppm".desc, $"dim").limit(16)
    },
    Some("""
      WITH e AS (SELECT label, list_transform(embedding, x ->
                   CAST(floor(CAST(x AS DOUBLE) * 1000.0 + 0.5) AS BIGINT))
                   AS e3
                 FROM embeddings WHERE len(embedding) = 64),
      ex AS (SELECT label, CAST(i AS INT) AS i, e3[CAST(i AS INT)+1] AS x
             FROM e, UNNEST(range(0, 64)) t(i)),
      g1 AS (SELECT i, label, CAST(COUNT(*) AS HUGEINT) AS n_l,
               CAST(SUM(x) AS HUGEINT) AS s_l,
               CAST(SUM(x * x) AS HUGEINT) AS q_l
             FROM ex GROUP BY 1, 2),
      g2 AS (SELECT i, CAST(SUM(n_l) AS HUGEINT) AS n,
               CAST(SUM(s_l) AS HUGEINT) AS s,
               CAST(SUM(q_l) AS HUGEINT) AS q,
               CAST(SUM((s_l * s_l * 1000) // n_l) AS HUGEINT) AS ssbq
             FROM g1 GROUP BY 1),
      f AS (SELECT i, ssbq - (s * s * 1000) // n AS ssb,
              q * 1000 - ssbq AS ssw
            FROM g2)
      SELECT CAST(i AS INT) AS dim, CAST(ssb AS BIGINT) AS ssb_milli,
        CAST(ssw AS BIGINT) AS ssw_milli,
        CAST(GREATEST(ssb, 0) * 1000000 // GREATEST(ssw, 1) AS BIGINT)
          AS f_ppm
      FROM f ORDER BY f_ppm DESC, dim LIMIT 16"""))

  /** p108 — inter-event gap spectrum: the burstiness audit behind session
    * gap and watermark tuning — per event type, a base-2 log histogram of
    * the microsecond gap to the SAME USER's previous event (any type).
    * The bucket is the gap's binary magnitude, length(bin(gap)) — the
    * position of the most significant bit — which both engines compute as
    * the length of the unpadded binary string, keeping the whole entry in
    * exact integers (no log2 float at bucket boundaries). The histogram
    * is what picks a session gap (w03/nx_q11's 10 s) and a watermark
    * delay from data instead of folklore.
    *
    * 100 TB shape: one shuffle to co-locate each user's events (the same
    * per-user partitioning every sessionization already pays), a narrow
    * lag window inside it, then a partial-aggregable rollup bounded by
    * |event types| x ~40 magnitude buckets. The (us, event_id) sort key
    * is unique, so the lag is deterministic under ts ties.
    */
  private val p108 = Q(
    "p108_gap_spectrum",
    (s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"us", $"event_id")
      T(s, d, "events")
        .select($"user_id", $"event_id", $"event_type",
          expr("unix_micros(ts)").as("us"))
        .withColumn("gap", $"us" - lag($"us", 1).over(w))
        .filter($"gap".isNotNull)
        .select($"event_type", length(bin($"gap")).cast(IntegerType)
          .as("bucket"), $"gap")
        .groupBy($"event_type", $"bucket")
        .agg(count(lit(1)).as("n_gaps"), min($"gap").as("min_gap"),
          max($"gap").as("max_gap"))
        .orderBy($"event_type", $"bucket")
    },
    Some("""
      WITH ev AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us
                  FROM events),
      g AS (SELECT event_type,
              us - LAG(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
                AS gap
            FROM ev)
      SELECT event_type, CAST(length(bin(gap)) AS INT) AS bucket,
        CAST(COUNT(*) AS BIGINT) AS n_gaps,
        CAST(MIN(gap) AS BIGINT) AS min_gap,
        CAST(MAX(gap) AS BIGINT) AS max_gap
      FROM g WHERE gap IS NOT NULL
      GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** p109 — Zipf constancy audit: Zipf's law says rank×frequency is
    * roughly constant; a corpus whose head violates it (rf collapsing
    * after rank ~10) is template- or boilerplate-dominated rather than
    * natural text — a corpus-health check run before trusting frequency
    * -based vocab/filter decisions. Top-100 types by count (deterministic
    * term tie-break), each with rank, rf = rank×freq, and rf as ppm of
    * the rank-1 product — all exact integers.
    *
    * 100 TB shape: the corpus pass partial-aggregates to the vocabulary;
    * top-100 travels via TakeOrdered (no global sort materializes the
    * vocab); the ranking window then runs on 100 rows in one partition
    * (intentional and bounded — the frame is the LIMIT, not the corpus),
    * and the rank-1 anchor is a broadcast singleton.
    */
  private val p109 = Q(
    "p109_zipf_audit",
    (s, d) => {
      import s.implicits._
      val vocab = T(s, d, "documents")
        .select(explode(split($"text", " ")).as("term"))
        .groupBy($"term").agg(count(lit(1)).as("freq"))
      val top = vocab.orderBy($"freq".desc, $"term").limit(100)
      val w = Window.orderBy($"freq".desc, $"term")
      val ranked = top.select($"term", $"freq",
        row_number().over(w).cast(LongType).as("rank"))
        .select($"term", $"freq", $"rank", ($"rank" * $"freq").as("rf"))
      val r1 = ranked.agg(max(when($"rank" === 1, $"rf")).as("rf1"))
      ranked.crossJoin(broadcast(r1))
        .select($"rank", $"term", $"freq", $"rf",
          expr("rf * 1000000L div rf1").as("rf_ppm_of_r1"))
        .orderBy($"rank")
    },
    Some("""
      WITH vocab AS (
        SELECT unnest(string_split(text, ' ')) AS term FROM documents),
      counts AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS freq
                 FROM vocab GROUP BY term),
      top AS (SELECT term, freq,
                CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, term) AS BIGINT)
                  AS rank
              FROM counts ORDER BY freq DESC, term LIMIT 100),
      rf AS (SELECT rank, term, freq, rank * freq AS rf FROM top),
      r1 AS (SELECT rf AS rf1 FROM rf WHERE rank = 1)
      SELECT rank, term, freq, rf,
        CAST(rf * 1000000 // rf1 AS BIGINT) AS rf_ppm_of_r1
      FROM rf, r1 ORDER BY rank"""))

  /** p110 — tokenizer fertility by language: tokens-per-word and
    * chars-per-token for the BPE-ish regex pre-tokenizer (p03's pattern)
    * per (source, lang) — the table that decides whether a tokenizer
    * under-serves a language (high fertility = more tokens per word =
    * worse compression and higher training cost for that slice). Exact
    * integer ppm/milli by floor division on nonnegative sums.
    *
    * 100 TB shape: pure map-side per-row counting (regexp_count — no
    * explode, the token ARRAYS never materialize) followed by one rollup
    * bounded by |sources|×|langs|.
    */
  private val p110 = Q(
    "p110_fertility",
    (s, d) => {
      import s.implicits._
      T(s, d, "documents")
        .select($"source", $"lang",
          size(split($"text", " ")).cast(LongType).as("ws"),
          regexp_count($"text", lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"))
            .cast(LongType).as("bpe"),
          length($"text").cast(LongType).as("chars"))
        .groupBy($"source", $"lang")
        .agg(count(lit(1)).as("n_docs"), sum($"ws").as("ws_tokens"),
          sum($"bpe").as("bpe_tokens"), sum($"chars").as("n_chars"))
        .select($"source", $"lang", $"n_docs", $"ws_tokens", $"bpe_tokens",
          expr("bpe_tokens * 1000000L div ws_tokens").as("fertility_ppm"),
          expr("n_chars * 1000L div bpe_tokens").as("chars_per_tok_milli"))
        .orderBy($"source", $"lang")
    },
    Some("""
      WITH perdoc AS (
        SELECT source, lang,
          CAST(length(string_split(text, ' ')) AS BIGINT) AS ws,
          CAST(length(regexp_extract_all(text,
            '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS bpe,
          CAST(length(text) AS BIGINT) AS chars
        FROM documents)
      SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(ws) AS BIGINT) AS ws_tokens,
        CAST(SUM(bpe) AS BIGINT) AS bpe_tokens,
        CAST(SUM(bpe) * 1000000 // SUM(ws) AS BIGINT) AS fertility_ppm,
        CAST(SUM(chars) * 1000 // SUM(bpe) AS BIGINT) AS chars_per_tok_milli
      FROM perdoc GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** p111 — duplicate-family spectrum: the size×spread distribution of
    * template-head families (10-token-opening digest, p76's fingerprint —
    * this corpus has ZERO exact full-text duplicates, so md5(text)
    * families would be all singletons; the head digest is the collider
    * that actually fires) — how much of the dedup bill comes from many
    * small pairs vs few huge families, and whether families stay inside
    * one source or span several (cross-source families implicate
    * syndication/mirrors; within-source implicate re-crawls). The
    * economics complement of p81's per-source attrition funnel: p81 says
    * who loses docs, this says what SHAPE the duplication has.
    *
    * 100 TB shape: the canonical digest shuffle (text never travels past
    * the head digest), a per-family (count, countDistinct source) rollup
    * — the distinct-source count partial-aggregates on (digest, source) —
    * and a spectrum rollup bounded by |family sizes|×|source spreads|.
    */
  private val p111 = Q(
    "p111_dup_spectrum",
    (s, d) => {
      import s.implicits._
      val fams = T(s, d, "documents")
        .groupBy(md5(array_join(slice(split($"text", " "), 1, 10), " "))
          .as("h"))
        .agg(count(lit(1)).as("n_copies"),
          countDistinct($"source").as("n_sources"))
      fams.groupBy($"n_copies", $"n_sources")
        .agg(count(lit(1)).as("n_families"),
          ($"n_copies" * count(lit(1))).as("n_docs"))
        .select($"n_copies", $"n_sources", $"n_families", $"n_docs",
          (($"n_copies" - 1L) * $"n_families").as("removable_docs"))
        .orderBy($"n_copies", $"n_sources")
    },
    Some("""
      WITH fams AS (
        SELECT md5(array_to_string(string_split(text, ' ')[1:10], ' ')) AS h,
          CAST(COUNT(*) AS BIGINT) AS n_copies,
          CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
        FROM documents GROUP BY 1)
      SELECT n_copies, n_sources, CAST(COUNT(*) AS BIGINT) AS n_families,
        CAST(n_copies * COUNT(*) AS BIGINT) AS n_docs,
        CAST((n_copies - 1) * COUNT(*) AS BIGINT) AS removable_docs
      FROM fams GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** p112 — posting-list spectrum: the shard-planning statistics for a
    * distributed inverted index (the p34/p51/p105 family's storage side)
    * — postings bucketed on two axes of base-2 magnitude: the term's
    * document frequency (how long its posting list is — the axis that
    * forces list sharding and impact-ordered cutoffs) and the posting's
    * within-doc occurrence count (how heavy its position payload is).
    * Buckets are length(bin(x)) — the same exact-integer MSB trick as
    * p108; no log2 float anywhere.
    *
    * 100 TB shape: one (term, doc) partial aggregation (distinct pairs
    * with an occurrence count — no posting lists materialize), a
    * vocab-bounded per-term df rollup REJOINED to the pairs on the term
    * key (broadcast: the dictionary is small; at web scale this join
    * stays co-partitioned on the term key the pairs already have), then
    * a ~30×30-cell spectrum rollup.
    */
  private val p112 = Q(
    "p112_posting_spectrum",
    (s, d) => {
      import s.implicits._
      val pairs = T(s, d, "documents")
        .select($"doc_id", explode(split($"text", " ")).as("term"))
        .groupBy($"term", $"doc_id").agg(count(lit(1)).as("in_doc"))
      val terms = pairs.groupBy($"term").agg(count(lit(1)).as("df"))
      pairs.join(broadcast(terms), "term")
        .select(length(bin($"df")).cast(IntegerType).as("df_bucket"),
          length(bin($"in_doc")).cast(IntegerType).as("tf_bucket"),
          $"in_doc", $"term")
        .groupBy($"df_bucket", $"tf_bucket")
        .agg(count(lit(1)).as("n_postings"),
          countDistinct($"term").as("n_terms"),
          sum($"in_doc").as("n_occurrences"),
          max($"in_doc").as("max_in_doc"))
        .orderBy($"df_bucket", $"tf_bucket")
    },
    Some("""
      WITH pairs AS (
        SELECT term, doc_id, CAST(COUNT(*) AS BIGINT) AS in_doc
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
              FROM documents)
        GROUP BY 1, 2),
      terms AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df
                FROM pairs GROUP BY 1)
      SELECT CAST(length(bin(df)) AS INT) AS df_bucket,
        CAST(length(bin(in_doc)) AS INT) AS tf_bucket,
        CAST(COUNT(*) AS BIGINT) AS n_postings,
        CAST(COUNT(DISTINCT p.term) AS BIGINT) AS n_terms,
        CAST(SUM(in_doc) AS BIGINT) AS n_occurrences,
        CAST(MAX(in_doc) AS BIGINT) AS max_in_doc
      FROM pairs p JOIN terms t ON p.term = t.term
      GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** p113 — class-separation matrix: exact squared distance between every
    * pair of label centroids in milli-quantized embedding space — which
    * classes are geometrically confusable BEFORE training (the pairwise
    * complement of p74's assignment confusion and p107's per-dim ANOVA).
    * Fraction-free exactness: mean_a − mean_b per dim is
    * (n_b·S_a − n_a·S_b)/(n_a·n_b), so Σ(n_b·S_a,i − n_a·S_b,i)² in
    * DECIMAL(38,0) is the (n_a·n_b)²-scaled squared distance, and one
    * final nonnegative floor-division by (n_a·n_b)² emits comparable
    * milli units — no per-dim division ever happens.
    *
    * 100 TB shape: the corpus collapses in ONE pass to (label, dim)
    * sums — ≤ 64×|labels| rows — and the pair matrix is a broadcast
    * self-join of that tiny frame: |labels|²/2 × 64 cells, corpus-size
    * independent (p104's iteration-on-rollup discipline).
    */
  private val p113 = Q(
    "p113_class_separation",
    (s, d) => {
      import s.implicits._
      val ex = T(s, d, "embeddings").filter(size($"embedding") === 64)
        .select($"label", posexplode(expr(
          """transform(embedding, x ->
               CAST(floor(CAST(x AS DOUBLE) * 1000.0D + 0.5D) AS BIGINT))"""))
          .as(Seq("i", "x")))
      val g = ex.groupBy($"label", $"i")
        .agg(sum($"x".cast(DecimalType(38, 0))).as("s"),
          count(lit(1)).as("n"))
      val a = g.select($"label".as("la"), $"i", $"s".as("sa"), $"n".as("na"))
      val b = g.select($"label".as("lb"), $"i", $"s".as("sb"), $"n".as("nb"))
      a.join(broadcast(b), Seq("i")).filter($"la" < $"lb")
        .select($"la", $"lb", $"na", $"nb",
          (($"nb".cast(DecimalType(38, 0)) * $"sa" -
            $"na".cast(DecimalType(38, 0)) * $"sb")).as("diff"))
        .select($"la", $"lb", $"na", $"nb",
          ($"diff" * $"diff").cast(DecimalType(38, 0)).as("cell"))
        .groupBy($"la", $"lb", $"na", $"nb")
        .agg(sum($"cell").cast(DecimalType(38, 0)).as("dsc"))
        .select($"la", $"lb", $"na", $"nb",
          // Divisor (na·nb)² in DECIMAL(38,0), matching the oracle's
          // HUGEINT: in BIGINT it overflows silently once na·nb exceeds
          // ~3e9 (na,nb ≈ 55k each — reachable). Decimal holds to
          // na·nb ≈ 1e19, i.e. ~3e9 rows PER LABEL on each side.
          expr("""(dsc * 1000) div (CAST(na AS DECIMAL(38,0)) *
                  CAST(nb AS DECIMAL(38,0)) * CAST(na AS DECIMAL(38,0)) *
                  CAST(nb AS DECIMAL(38,0)))""").as("d2_milli"))
        .orderBy($"la", $"lb")
    },
    Some("""
      WITH ex AS (SELECT label, CAST(i AS INT) AS i,
                    e3[CAST(i AS INT)+1] AS x
                  FROM (SELECT label, list_transform(embedding, x ->
                          CAST(floor(CAST(x AS DOUBLE) * 1000.0 + 0.5)
                            AS BIGINT)) AS e3
                        FROM embeddings WHERE len(embedding) = 64),
                       UNNEST(range(0, 64)) t(i)),
      g AS (SELECT label, i, CAST(SUM(x) AS HUGEINT) AS s,
              CAST(COUNT(*) AS HUGEINT) AS n
            FROM ex GROUP BY 1, 2),
      cells AS (SELECT a.label AS la, b.label AS lb, a.n AS na, b.n AS nb,
                  (b.n * a.s - a.n * b.s) * (b.n * a.s - a.n * b.s) AS cell
                FROM g a JOIN g b ON a.i = b.i AND a.label < b.label)
      SELECT la, lb, CAST(na AS BIGINT) AS na, CAST(nb AS BIGINT) AS nb,
        CAST(SUM(cell) * 1000 // (na * nb * na * nb) AS BIGINT) AS d2_milli
      FROM cells GROUP BY la, lb, na, nb ORDER BY 1, 2"""))

  /** Exact per-key median on the value-count histogram — the 100 TB
    * median shape: `percentile()`-style collect-all-values aggregation
    * buffers every row of a group in executor memory (a billion-row
    * group dies), but a (key, value) count table is bounded by the
    * DISTINCT value count, and the two middle order statistics fall out
    * of a cumulative window over it. Returns (key, n, m2) where
    * m2 = x_⌈n/2⌉ + x_⌊n/2⌋+1 = 2·median — kept doubled so callers stay
    * in exact integer space (a median of integers is integer or
    * half-integer). Matches quantile_cont(v, 0.5) = m2/2 exactly.
    */
  private[graft] def median2ByKey(df: DataFrame, key: String, v: String,
      out: String): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    val cnt = df.groupBy(col(key), col(v)).agg(count(lit(1)).as("c"))
    val cum = cnt
      .withColumn("cum", sum($"c").over(
        Window.partitionBy(col(key)).orderBy(col(v))))
      .withColumn("n", sum($"c").over(Window.partitionBy(col(key))))
    cum.groupBy(col(key)).agg(
      max($"n").as("n"),
      (min(when($"cum" >= floor(($"n" + 1) / 2), col(v))) +
        min(when($"cum" >= floor(($"n" + 2) / 2), col(v)))).as(out))
  }

  /** p114 — robust length outliers per source: median and MAD (median
    * absolute deviation) of n_chars, and the count of docs beyond the
    * classic 3·MAD fence. Mean/stddev outlier fences (p55's z-score
    * family) are themselves dragged by the outliers they hunt; MAD has a
    * 50% breakdown point, so a source whose crawler glued pages together
    * or truncated everything shows up even when the contamination is
    * heavy — the per-source corpus-health check quality scores miss.
    *
    * Integer-exact core: medians stay DOUBLED (m2 = 2·median, integer),
    * deviations dev = |2x − m2| = 2|x − med| (integer), mad4 = 2·med(dev)
    * = 4·MAD (integer), and the fence |x−med| > 3·MAD becomes
    * 2·dev > 3·mad4 — all integer compares, no float until the two
    * final exact halvings for display.
    *
    * 100 TB shape: medians run on the (source, value) count histogram
    * (median2ByKey — bounded by distinct lengths, never buffers a
    * group), one broadcast-size join back per med/MAD pass, one final
    * rollup. No percentile() collect-the-group aggregation anywhere.
    */
  private val p114 = Q(
    "p114_mad_outliers",
    (s, d) => {
      import s.implicits._
      val docs = T(s, d, "documents").select($"source", $"n_chars")
      val med = median2ByKey(docs, "source", "n_chars", "m2")
        .withColumnRenamed("n", "n_docs")
      val dev = docs.join(broadcast(med), "source")
        .withColumn("dev", abs(lit(2) * $"n_chars" - $"m2"))
      val mad = median2ByKey(dev.select($"source", $"dev"), "source",
        "dev", "mad4").select($"source", $"mad4")
      dev.join(broadcast(mad), "source")
        .groupBy($"source", $"n_docs", $"m2", $"mad4")
        .agg(sum(when(lit(2) * $"dev" > lit(3) * $"mad4", 1L)
          .otherwise(0L)).as("n_outliers"))
        .select($"source", $"n_docs",
          ($"m2".cast("double") / 2.0).as("median_chars"),
          ($"mad4".cast("double") / 4.0).as("mad_chars"),
          $"n_outliers")
        .orderBy($"source")
    },
    Some("""
      WITH med AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(2.0 * quantile_cont(n_chars, 0.5) AS BIGINT) AS m2
        FROM documents GROUP BY source),
      dev AS (
        SELECT d.source, med.n_docs, med.m2,
          abs(2 * d.n_chars - med.m2) AS dev
        FROM documents d JOIN med USING (source)),
      mad AS (
        SELECT source, CAST(2.0 * quantile_cont(dev, 0.5) AS BIGINT) AS mad4
        FROM dev GROUP BY source)
      SELECT dev.source, dev.n_docs,
        CAST(dev.m2 AS DOUBLE) / 2.0 AS median_chars,
        CAST(mad.mad4 AS DOUBLE) / 4.0 AS mad_chars,
        CAST(SUM(CASE WHEN 2 * dev.dev > 3 * mad.mad4 THEN 1 ELSE 0 END)
          AS BIGINT) AS n_outliers
      FROM dev JOIN mad USING (source)
      GROUP BY dev.source, dev.n_docs, dev.m2, mad.mad4
      ORDER BY dev.source"""))

  /** p115 — token-budget water-filling: allocate a global training-token
    * budget (60% of the corpus here) across (source, lang) strata by
    * capping every stratum at a common water level c chosen so that
    * Σ min(tokens, c) = budget — the standard way to spend a data budget
    * without letting the biggest crawl dominate the mixture (small strata
    * keep everything; big ones are clipped to the level). The level has a
    * closed form: sort strata by token count ascending, find the first
    * position where covering the rest at that stratum's height would
    * overshoot, split the remainder evenly — no iteration, pure window
    * functions + a 1-row pivot frame. Complements p75's recipe-shaped
    * allocator (temperature-weighted proportional quota + ONE
    * redistribution round under an epoch cap): p75 answers "how many
    * epochs of each source under this recipe", this entry computes the
    * EXACT water level Σ min(tok, c) = B that a level-based cap needs.
    *
    * Determinism: token counts and prefix sums are exact integers; the
    * level c is ONE double division of two exact integers; allocations
    * are either the exact integer count or c.
    *
    * 100 TB shape: the only data-scale work is the per-stratum token
    * count (one map-side-combinable shuffle); the waterfill itself runs
    * on the strata frame (|sources|×|langs| rows — constant), where the
    * unpartitioned sort window and the broadcast 1-row pivot/cap frames
    * are free.
    */
  private val p115 = Q(
    "p115_budget_waterfill",
    (s, d) => {
      import s.implicits._
      val tok = T(s, d, "documents").groupBy($"source", $"lang")
        .agg(sum(size(split($"text", " ")).cast("long")).as("tok"))
      val wOrd = Window.orderBy($"tok", $"source", $"lang")
      val srt = tok
        .withColumn("i", row_number().over(wOrd).cast("long"))
        .withColumn("pfx", sum($"tok").over(wOrd))
      // `div`, not `/`: the budget must stay in exact LONG arithmetic
      // (double true-division then truncation would round once
      // sum(tok)*6 exceeds 2^53, diverging from DuckDB's integer `//`)
      val b = tok.agg(expr("(sum(tok) * 6) div 10").as("budget"),
        count(lit(1)).as("n"))
      val piv = srt.crossJoin(broadcast(b))
        .filter(($"pfx" - $"tok") + $"tok" * ($"n" - $"i" + 1) > $"budget")
        .agg(min($"i").as("ip"))
      val pfxBefore = srt.join(broadcast(piv), $"i" === $"ip" - 1, "inner")
        .agg(max($"pfx").as("pfx_before"))
      val cap = piv.crossJoin(broadcast(b)).crossJoin(broadcast(pfxBefore))
        .select($"ip",
          (($"budget" - coalesce($"pfx_before", lit(0L))).cast("double") /
            ($"n" - $"ip" + 1).cast("double")).as("c"))
      srt.crossJoin(broadcast(cap))
        .select($"source", $"lang", $"tok",
          when($"ip".isNull || $"i" < $"ip", $"tok".cast("double"))
            .otherwise($"c").cast(DecimalType(18, 4)).as("allocated"),
          ($"ip".isNotNull && $"i" >= $"ip").as("capped"))
        .orderBy($"source", $"lang")
    },
    Some("""
      WITH tok AS (
        SELECT source, lang,
          CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tok
        FROM documents GROUP BY source, lang),
      tot AS (SELECT CAST(SUM(tok) AS BIGINT) AS total,
                     CAST(COUNT(*) AS BIGINT) AS n FROM tok),
      srt AS (
        SELECT source, lang, tok,
          CAST(row_number() OVER (ORDER BY tok, source, lang) AS BIGINT) AS i,
          CAST(SUM(tok) OVER (ORDER BY tok, source, lang) AS BIGINT) AS pfx
        FROM tok),
      b AS (SELECT total * 6 // 10 AS budget, n FROM tot),
      piv AS (
        SELECT MIN(i) AS ip FROM srt, b
        WHERE (pfx - tok) + tok * (b.n - i + 1) > b.budget),
      cap AS (
        SELECT CAST(b.budget - COALESCE(
            (SELECT pfx FROM srt, piv WHERE i = piv.ip - 1), 0) AS DOUBLE)
          / CAST(b.n - piv.ip + 1 AS DOUBLE) AS c
        FROM piv, b WHERE piv.ip IS NOT NULL)
      SELECT srt.source, srt.lang, srt.tok,
        CAST(CASE WHEN piv.ip IS NULL OR srt.i < piv.ip
             THEN CAST(srt.tok AS DOUBLE) ELSE cap.c END AS DECIMAL(18,4))
          AS allocated,
        (piv.ip IS NOT NULL AND srt.i >= piv.ip) AS capped
      FROM srt, piv LEFT JOIN cap ON TRUE
      ORDER BY srt.source, srt.lang"""))

  /** p116 — distribution drift per source: the two-sample
    * Kolmogorov–Smirnov distance between each source's n_chars
    * distribution and the whole corpus — max |ECDF_s − ECDF_corpus| over
    * the union of jump points. The distribution-free counterpart of
    * p40's embedding-drift means: a source whose LENGTH DISTRIBUTION
    * shifted (new boilerplate, truncation bug, template change) moves
    * its KS stat even when the mean stays put. Both ECDFs are step
    * functions jumping only at observed values, so evaluating at every
    * distinct value is the exact sup, not a grid approximation.
    *
    * Determinism: cumulative counts are exact integers; each ECDF value
    * is one exact-int division; their difference/abs/max are single
    * IEEE ops with no accumulation — bit-identical across engines.
    *
    * 100 TB shape: two (key, value)-count shuffles (map-side
    * combinable), then everything runs on the distinct-value grid
    * (|values| × |sources| rows — bounded by the value domain, not the
    * corpus); the per-source cumulative windows partition cleanly and
    * the corpus frame broadcasts.
    */
  private val p116 = Q(
    "p116_ks_drift",
    (s, d) => {
      import s.implicits._
      val docs = T(s, d, "documents").select($"source", $"n_chars")
      val v = docs.select($"n_chars".as("x")).distinct()
      val stot = docs.groupBy($"source").agg(count(lit(1)).as("ns"))
      val atot = docs.agg(count(lit(1)).as("na"))
      val sc = docs.groupBy($"source", $"n_chars".as("x"))
        .agg(count(lit(1)).as("c"))
      val ac = v.join(docs.groupBy($"n_chars".as("x"))
            .agg(count(lit(1)).as("c")), Seq("x"), "left")
        .select($"x", coalesce($"c", lit(0L)).as("c"))
        .withColumn("ca", sum($"c").over(Window.orderBy($"x")))
        .select($"x", $"ca")
      val grid = v.crossJoin(broadcast(stot))
        .join(sc, Seq("source", "x"), "left")
        .select($"source", $"ns", $"x", coalesce($"c", lit(0L)).as("c"))
      val cum = grid.withColumn("cs", sum($"c").over(
        Window.partitionBy($"source").orderBy($"x")))
      cum.join(ac, Seq("x")).crossJoin(broadcast(atot))
        .groupBy($"source", $"ns")
        .agg(max(abs($"cs".cast("double") / $"ns".cast("double") -
          $"ca".cast("double") / $"na".cast("double"))).as("ksd"))
        .select($"source", $"ns".as("n_docs"),
          $"ksd".cast(DecimalType(18, 6)).as("ks"))
        .orderBy($"source")
    },
    Some("""
      WITH v AS (SELECT DISTINCT n_chars AS x FROM documents),
      stot AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS ns
               FROM documents GROUP BY source),
      atot AS (SELECT CAST(COUNT(*) AS BIGINT) AS na FROM documents),
      sc AS (SELECT source, n_chars AS x, CAST(COUNT(*) AS BIGINT) AS c
             FROM documents GROUP BY source, n_chars),
      ac AS (SELECT v.x, SUM(COALESCE(g.c, 0)) OVER (ORDER BY v.x) AS ca
             FROM v LEFT JOIN (
               SELECT n_chars AS x, CAST(COUNT(*) AS BIGINT) AS c
               FROM documents GROUP BY n_chars) g ON g.x = v.x),
      grid AS (SELECT s.source, s.ns, v.x, COALESCE(sc.c, 0) AS c
               FROM stot s CROSS JOIN v
               LEFT JOIN sc ON sc.source = s.source AND sc.x = v.x),
      cum AS (SELECT source, ns, x,
                SUM(c) OVER (PARTITION BY source ORDER BY x) AS cs
              FROM grid)
      SELECT cum.source, cum.ns AS n_docs,
        CAST(MAX(abs(CAST(cum.cs AS DOUBLE) / CAST(cum.ns AS DOUBLE)
                   - CAST(ac.ca AS DOUBLE) / CAST(atot.na AS DOUBLE)))
          AS DECIMAL(18,6)) AS ks
      FROM cum JOIN ac USING (x), atot
      GROUP BY cum.source, cum.ns ORDER BY cum.source"""))

  /** p117 — vocabulary saturation (Heaps-law audit) per source: split
    * each source's docs at the median doc_id and compare how many of its
    * distinct token types first appear in the second half. A saturated
    * source (types_h2/n_types → small) is one more crawling won't enrich;
    * a still-growing one justifies budget — the direct measurement behind
    * "is more data from this source still adding new vocabulary", which
    * p25's static OOV rate can't answer (it has no within-source time
    * axis). Integer-exact: the half boundary reuses median2ByKey's
    * doubled-median (first half ⟺ 2·first_doc ≤ m2), first appearance is
    * min(doc_id) per (source, type), the one ratio is a single division.
    *
    * 100 TB shape: one (source, token) shuffle with map-side min/count
    * partials (vocab-bounded output), the median on the (source, doc_id)
    * histogram, a broadcast join of the tiny per-source medians, and a
    * per-source rollup.
    */
  private val p117 = Q(
    "p117_vocab_growth",
    (s, d) => {
      import s.implicits._
      val docs = T(s, d, "documents")
      val tok = docs.select($"source", $"doc_id",
        explode(split($"text", " ")).as("t"))
      val firsts = tok.groupBy($"source", $"t")
        .agg(min($"doc_id").as("fd"))
      val ntok = tok.groupBy($"source").agg(count(lit(1)).as("n_tokens"))
      val med = median2ByKey(docs.select($"source", $"doc_id"),
        "source", "doc_id", "m2").select($"source", $"m2")
      firsts.join(broadcast(med), "source")
        .groupBy($"source")
        .agg(count(lit(1)).as("n_types"),
          sum(when($"fd" * 2 <= $"m2", 1L).otherwise(0L)).as("types_h1"))
        .join(broadcast(ntok), "source")
        .withColumn("types_h2", $"n_types" - $"types_h1")
        .withColumn("growth_ratio", dec($"types_h2" / $"n_types", 18, 6))
        .select($"source", $"n_tokens", $"n_types", $"types_h1",
          $"types_h2", $"growth_ratio")
        .orderBy($"source")
    },
    Some("""
      WITH tok AS (
        SELECT source, doc_id, unnest(string_split(text, ' ')) AS t
        FROM documents),
      firsts AS (SELECT source, t, MIN(doc_id) AS fd
                 FROM tok GROUP BY source, t),
      ntok AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_tokens
               FROM tok GROUP BY source),
      med AS (SELECT source,
                CAST(2.0 * quantile_cont(doc_id, 0.5) AS BIGINT) AS m2
              FROM documents GROUP BY source)
      SELECT f.source, ntok.n_tokens, CAST(COUNT(*) AS BIGINT) AS n_types,
        CAST(SUM(CASE WHEN f.fd * 2 <= med.m2 THEN 1 ELSE 0 END)
          AS BIGINT) AS types_h1,
        CAST(COUNT(*) - SUM(CASE WHEN f.fd * 2 <= med.m2 THEN 1 ELSE 0 END)
          AS BIGINT) AS types_h2,
        CAST(CAST(COUNT(*) - SUM(CASE WHEN f.fd * 2 <= med.m2
                                 THEN 1 ELSE 0 END) AS DOUBLE)
          / CAST(COUNT(*) AS DOUBLE) AS DECIMAL(18,6)) AS growth_ratio
      FROM firsts f JOIN med USING (source)
      JOIN ntok ON ntok.source = f.source
      GROUP BY f.source, ntok.n_tokens
      ORDER BY f.source"""))

  /** p118 — source-salient terms: the top-3 terms per source by an
    * integer-rational tf·idf surrogate — score = (tf_in_source ·
    * n_sources · 1000) floor-div (number of sources containing the
    * term) — stopwords and <3-char tokens excluded. Terms every source
    * shares score low; a source's private vocabulary scores high — the
    * one-line answer to "what IS this source about", used to spot
    * mislabeled or hijacked feeds. Same no-log discipline as p51's BM25
    * core: the floor division of exact integers is identical in both
    * engines, ties break on the term.
    *
    * 100 TB shape: one (source, term) count shuffle (map-side
    * combinable), a vocab-bounded source-frequency rollup rejoined on
    * the term key, and a per-source top-3 window on the scored
    * vocab-bounded frame.
    */
  private val p118 = Q(
    "p118_source_salience",
    (s, d) => {
      import s.implicits._
      val docs = T(s, d, "documents")
      val tokc = docs.select($"source", explode(split($"text", " ")).as("t"))
        .filter(!$"t".isin(stops: _*) && length($"t") >= 3)
        .groupBy($"source", $"t").agg(count(lit(1)).as("tf"))
      val sf = tokc.groupBy($"t").agg(count(lit(1)).as("nsrc_term"))
      val nsrc = docs.agg(countDistinct($"source").as("n_sources"))
      val w = Window.partitionBy($"source").orderBy($"score".desc, $"t")
      tokc.join(sf, "t").crossJoin(broadcast(nsrc))
        .withColumn("score",
          expr("(tf * n_sources * 1000) DIV nsrc_term"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter($"rk" <= 3)
        .select($"source", $"rk", $"t".as("term"), $"tf",
          $"nsrc_term", $"score")
        .orderBy($"source", $"rk")
    },
    Some(s"""
      WITH tokc AS (
        SELECT source, t, CAST(COUNT(*) AS BIGINT) AS tf
        FROM (SELECT source, unnest(string_split(text, ' ')) AS t
              FROM documents)
        WHERE t NOT IN (${stops.map(t => s"'$t'").mkString(", ")})
          AND length(t) >= 3
        GROUP BY source, t),
      sf AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS nsrc_term
             FROM tokc GROUP BY t),
      nsrc AS (SELECT CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
               FROM documents),
      scored AS (
        SELECT tokc.source, tokc.t, tokc.tf, sf.nsrc_term,
          (tokc.tf * nsrc.n_sources * 1000) // sf.nsrc_term AS score
        FROM tokc JOIN sf USING (t), nsrc),
      rk AS (
        SELECT source, t, tf, nsrc_term, score,
          CAST(row_number() OVER (PARTITION BY source
                                  ORDER BY score DESC, t) AS BIGINT) AS rk
        FROM scored)
      SELECT source, rk, t AS term, tf, nsrc_term, score
      FROM rk WHERE rk <= 3 ORDER BY source, rk"""))

  /** p119 — traffic burstiness per event type: the Fano factor
    * (variance-to-mean dispersion index) of per-(user, day) event
    * counts. Poisson-like organic traffic sits near 1; scripted/bot
    * traffic and batchy replays disperse far above it — the first-line
    * audit for rate anomalies that p55's day-level trailing mean misses
    * (a bot that spreads evenly across days but bursts within users is
    * invisible at day granularity). Integer-exact core: with n cells,
    * S1 = Σx, S2 = Σx², Fano = ((n·S2 − S1²) · 1000) floor-div (n·S1) —
    * population variance over mean, scaled to milli-units, all integer.
    *
    * 100 TB shape: one (type, user, day) count shuffle with map-side
    * partials, then a per-type rollup of three integer sums — nothing
    * retains raw events past the first aggregate.
    */
  private val p119 = Q(
    "p119_event_burstiness",
    (s, d) => {
      import s.implicits._
      val cells = T(s, d, "events")
        .select($"event_type", $"user_id",
          expr("unix_micros(ts) div 86400000000").as("day"))
        .groupBy($"event_type", $"user_id", $"day")
        .agg(count(lit(1)).as("x"))
      cells.groupBy($"event_type")
        .agg(count(lit(1)).as("n_cells"),
          sum($"x").as("s1"),
          sum($"x" * $"x").as("s2"))
        // The S1² and n·S2 products are widened to DECIMAL(38,0) before
        // the floor division: in LONG arithmetic s1*s1 overflows BIGINT
        // once a type holds ~3e9 events (plausible at 100 TB), while
        // DuckDB's SUM(BIGINT) returns HUGEINT and would NOT overflow —
        // a silent cross-engine divergence. Decimal keeps both engines
        // exact to 38 digits; IntegralDivide still returns BIGINT, and
        // both numerator and denominator are nonnegative (Cauchy-Schwarz
        // gives n·S2 ≥ S1²), so trunc-div == floor-div on both engines.
        .withColumn("fano_milli",
          expr("""((cast(n_cells as decimal(38,0)) * s2
                    - cast(s1 as decimal(38,0)) * s1) * 1000)
                  DIV (cast(n_cells as decimal(38,0)) * s1)"""))
        .select($"event_type", $"n_cells", $"s1".as("n_events"),
          $"fano_milli")
        .orderBy($"event_type")
    },
    Some("""
      WITH cells AS (
        SELECT event_type, user_id, epoch_us(ts) // 86400000000 AS day,
          CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY event_type, user_id, day)
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_cells,
        CAST(SUM(x) AS BIGINT) AS n_events,
        CAST(((COUNT(*) * SUM(x * x) - SUM(x) * SUM(x)) * 1000)
          // (COUNT(*) * SUM(x)) AS BIGINT) AS fano_milli
      FROM cells GROUP BY event_type ORDER BY event_type"""))

  val all: Seq[Q] = Seq(p01, p02, p03, p04, p05, p06, p07, p08, p09, p10,
    p11, p12, p13, p14, p15, p16, p17, p18, p19, p20, p21, p22, p23, p24,
    p25, p26, p27, p28, p29, p30, p31, p32, p33, p34, p35, p36, p37, p38,
    p39, p40, p41, p42, p43, p44, p45, p46, p47, p48, p49, p50, p51, p52,
    p53, p54, p55, p56, p57, p58, p59, p60, p61, p62, p63, p64, p65, p66,
    p67, p68, p69, p70, p71, p72, p73, p74, p75, p76, p77, p78, p79, p80,
    p81, p82, p82c, p83, p84, p85, p86, p87, p88, p89, p90, p91, p92, p93,
    p94, p95, p96, p97, p98, p99, p100, p101, p102, p103, p104, p105, p106,
    p107, p108, p109, p110, p111, p112, p113, p114, p115, p116, p117,
    p118, p119, p120, p121)
}
