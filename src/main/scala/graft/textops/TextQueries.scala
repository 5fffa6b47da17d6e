package graft.textops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.analytics.RelationalQueries.Q

/** Training-data-pipeline text operators over the `documents` table, each
  * with a DuckDB oracle. These are the operations a 100 TB pretraining
  * corpus pipeline runs: exact dedup, similarity candidates, language ID,
  * quality scoring, token counting, fingerprinting.
  *
  * Everything is built from codegen'd builtin expressions (split /
  * regexp / higher-order array functions) — no UDFs, so the whole pipeline
  * stays inside WholeStageCodegen and scales linearly with input splits.
  */
object TextQueries {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")

  /** D1 ▸ exact content-hash dedup: survivor = min doc_id per sha256(text)
    * (the CDC engine's content-hash batch identity applied to documents;
    * reference: SHA-256 file/batch hashing,
    * Scripts/python/enhanced_main_etl.py:418-424).
    * Scale path: hash-groupBy is one shuffle on the 64-char digest — at
    * 100 TB the digest shuffle is ~3 orders smaller than the text itself.
    */
  private val d1 = Q("d1_exact_dedup",
    (spark, dir) =>
      docs(spark, dir)
        .groupBy(sha2(col("text"), 256).as("text_hash"))
        .agg(min(col("doc_id")).as("survivor_id"), count(lit(1)).as("n_copies"))
        .orderBy("text_hash"),
    Some("""SELECT sha256(text) AS text_hash, min(doc_id) AS survivor_id,
            count(*) AS n_copies
            FROM documents GROUP BY sha256(text) ORDER BY text_hash"""))

  /** The inverted-index relation of a doc slice — one (doc_id, token) row
    * per DISTINCT token per doc — with the standard frequent-token guard:
    * tokens whose document frequency exceeds `maxDf` are dropped BEFORE
    * the self-join (a stopword present in every doc of the verify slice
    * would contribute |slice|² join rows and ~nothing to Jaccard; the df
    * cap is the same hot-bucket skip d2/d3/d5 apply at their candidate
    * sites). Exposed so tests can assert the guard holds.
    */
  def invertedIndex(slice: DataFrame, maxDf: Long): DataFrame = {
    val tok0 = slice.select(col("doc_id"), explode(col("toks")).as("token"))
    val rare = tok0.groupBy(col("token")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf).select(col("token"))
    tok0.join(rare, Seq("token"), "left_semi")
  }

  /** Tokenized slice: (doc_id, toks) with distinct non-empty lowercased
    * whitespace tokens per doc.
    */
  def tokenSets(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      array_distinct(filter(split(lower(col("text")), " "), x => x =!= "")).as("toks"))

  /** D4 ▸ exact n-gram (token-set) Jaccard near-dup pairs via an
    * inverted-index self-join — the verification stage that follows
    * MinHash candidate generation at scale. Jaccard is computed over the
    * df-FILTERED token sets (sizes come from the same guarded index the
    * join runs on), so the semantics stay exact for the operator as
    * defined: similarity over the informative (non-ubiquitous) vocabulary.
    */
  def ngramJaccardPairs(docs: DataFrame, maxDf: Long = 50L,
      minJaccard: Double = 0.5): DataFrame = {
    val tok = invertedIndex(tokenSets(docs), maxDf)
    val sizes = tok.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val shared = tok.as("a")
      .join(tok.as("b"),
        col("a.token") === col("b.token") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("shared"))
    shared
      .join(sizes.withColumnRenamed("doc_id", "d1").withColumnRenamed("sz", "s1"), "d1")
      .join(sizes.withColumnRenamed("doc_id", "d2").withColumnRenamed("sz", "s2"), "d2")
      .withColumn("jaccard",
        round(col("shared") / (col("s1") + col("s2") - col("shared")), 6))
      .filter(col("jaccard") >= minJaccard)
      .select(col("d1"), col("d2"), col("shared"), col("jaccard"))
  }

  private val d4 = Q("d4_ngram_jaccard",
    (spark, dir) =>
      ngramJaccardPairs(docs(spark, dir).filter(col("doc_id") < 100), maxDf = 50L)
        .orderBy("d1", "d2"),
    Some("""WITH tok0 AS (
              SELECT DISTINCT doc_id, token FROM (
                SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
                FROM documents WHERE doc_id < 100)
              WHERE token <> ''),
            rare AS (SELECT token FROM tok0 GROUP BY token HAVING count(*) <= 50),
            tok AS (SELECT t.doc_id, t.token FROM tok0 t JOIN rare USING (token)),
            sizes AS (SELECT doc_id, count(*) AS sz FROM tok GROUP BY doc_id),
            shared AS (
              SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS shared
              FROM tok a JOIN tok b ON a.token = b.token AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
            SELECT d1, d2, shared,
                   round(shared * 1.0 / (s1.sz + s2.sz - shared), 6) AS jaccard
            FROM shared JOIN sizes s1 ON s1.doc_id = d1
                        JOIN sizes s2 ON s2.doc_id = d2
            WHERE round(shared * 1.0 / (s1.sz + s2.sz - shared), 6) >= 0.5
            ORDER BY d1, d2"""))

  /** T-LANG ▸ marker-word language ID: count language-specific stopword
    * hits per candidate language, argmax with a fixed precedence. A
    * deterministic n-gram-heuristic classifier expressible as pure
    * column math in both engines.
    */
  private val lang = Q("t1_langid",
    (spark, dir) =>
      docs(spark, dir)
        .withColumn("toks", split(lower(col("text")), " "))
        .select(col("doc_id"),
          expr("CAST(size(filter(toks, x -> x IN ('the','a','of','and'))) AS INT)").as("sc_en"),
          expr("CAST(size(filter(toks, x -> x IN ('der','die','und','das'))) AS INT)").as("sc_de"),
          expr("CAST(size(filter(toks, x -> x IN ('le','la','et','les'))) AS INT)").as("sc_fr"),
          expr("CAST(size(filter(toks, x -> x IN ('el','los','y','las'))) AS INT)").as("sc_es"))
        .withColumn("lang_pred",
          when(col("sc_en") >= col("sc_de") && col("sc_en") >= col("sc_fr")
            && col("sc_en") >= col("sc_es"), "en")
            .when(col("sc_de") >= col("sc_fr") && col("sc_de") >= col("sc_es"), "de")
            .when(col("sc_fr") >= col("sc_es"), "fr")
            .otherwise("es"))
        .orderBy("doc_id"),
    Some("""SELECT doc_id, sc_en, sc_de, sc_fr, sc_es,
            CASE WHEN sc_en >= sc_de AND sc_en >= sc_fr AND sc_en >= sc_es THEN 'en'
                 WHEN sc_de >= sc_fr AND sc_de >= sc_es THEN 'de'
                 WHEN sc_fr >= sc_es THEN 'fr' ELSE 'es' END AS lang_pred
            FROM (SELECT doc_id,
                   CAST(len(list_filter(string_split(lower(text),' '),
                        x -> x IN ('the','a','of','and'))) AS INTEGER) AS sc_en,
                   CAST(len(list_filter(string_split(lower(text),' '),
                        x -> x IN ('der','die','und','das'))) AS INTEGER) AS sc_de,
                   CAST(len(list_filter(string_split(lower(text),' '),
                        x -> x IN ('le','la','et','les'))) AS INTEGER) AS sc_fr,
                   CAST(len(list_filter(string_split(lower(text),' '),
                        x -> x IN ('el','los','y','las'))) AS INTEGER) AS sc_es
                  FROM documents)
            ORDER BY doc_id"""))

  /** T-QUAL ▸ document quality scoring: token count, alpha ratio,
    * stopword ratio, mean token length → weighted score (the
    * length/punct/stopword heuristics of pretraining-data filters).
    */
  private val qual = Q("t2_quality_score",
    (spark, dir) =>
      docs(spark, dir)
        .withColumn("toks", filter(split(col("text"), " "), x => x =!= ""))
        .withColumn("n_tokens", size(col("toks")).cast("int"))
        .withColumn("n_chars_c", length(col("text")).cast("int"))
        .withColumn("alpha_raw",
          length(regexp_replace(col("text"), "[^a-zA-Z]", "")) /
            (length(col("text")) + lit(1e-9)))
        .withColumn("stop_raw",
          expr("size(filter(toks, x -> x IN ('the','a','of','and','to','in')))") /
            (col("n_tokens") + lit(1e-9)))
        .withColumn("quality_score",
          round(least(lit(1.0), col("n_tokens") / lit(100.0)) * 0.4
            + col("alpha_raw") * 0.4 + col("stop_raw") * 0.2, 6))
        .select(col("doc_id"), col("n_tokens"),
          round(col("alpha_raw"), 6).as("alpha_ratio"),
          round(col("stop_raw"), 6).as("stop_ratio"),
          round((col("n_chars_c") - col("n_tokens") + 1) / (col("n_tokens") + lit(1e-9)), 6)
            .as("mean_tok_len"),
          col("quality_score"))
        .orderBy("doc_id"),
    Some("""SELECT doc_id, n_tokens,
            round(n_alpha / (n_chars_c + 1e-9), 6) AS alpha_ratio,
            round(n_stop / (n_tokens + 1e-9), 6) AS stop_ratio,
            round((n_chars_c - n_tokens + 1) / (n_tokens + 1e-9), 6) AS mean_tok_len,
            round(least(1.0, n_tokens / 100.0) * 0.4
                  + (n_alpha / (n_chars_c + 1e-9)) * 0.4
                  + (n_stop / (n_tokens + 1e-9)) * 0.2, 6) AS quality_score
            FROM (SELECT doc_id,
                   CAST(len(list_filter(string_split(text,' '), x -> x <> '')) AS INTEGER) AS n_tokens,
                   CAST(length(text) AS INTEGER) AS n_chars_c,
                   length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS n_alpha,
                   len(list_filter(string_split(text,' '),
                       x -> x IN ('the','a','of','and','to','in'))) AS n_stop
                  FROM documents)
            ORDER BY doc_id"""))

  /** T-TOK ▸ token counting: whitespace tokens + a BPE-ish regex
    * tokenizer (letters / digits / single punctuation marks).
    */
  private val tok = Q("t3_token_count",
    (spark, dir) =>
      docs(spark, dir)
        .select(col("doc_id"),
          expr("CAST(size(filter(split(text, ' '), x -> x <> '')) AS INT)").as("ws_tokens"),
          expr("CAST(size(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]', 0)) AS INT)")
            .as("bpe_tokens"))
        .orderBy("doc_id"),
    Some("""SELECT doc_id,
            CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS INTEGER) AS ws_tokens,
            CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS INTEGER) AS bpe_tokens
            FROM documents ORDER BY doc_id"""))

  /** T-FP ▸ document fingerprinting: full-content digest prefix + a 2-perm
    * token MinHash (min of per-token sha256 under two "permutations") —
    * the portable kernel of shingle-MinHash dedup.
    */
  private val fp = Q("t4_fingerprint",
    (spark, dir) =>
      docs(spark, dir)
        .withColumn("toks",
          array_distinct(filter(split(lower(col("text")), " "), x => x =!= "")))
        .select(col("doc_id"),
          substring(sha2(col("text"), 256), 1, 16).as("content_fp"),
          expr("array_min(transform(toks, x -> sha2(x, 256)))").as("minhash_1"),
          expr("array_min(transform(toks, x -> sha2(concat(x, '#2'), 256)))").as("minhash_2"))
        .orderBy("doc_id"),
    Some("""SELECT doc_id, substr(sha256(text), 1, 16) AS content_fp,
            list_min(list_transform(toks, x -> sha256(x))) AS minhash_1,
            list_min(list_transform(toks, x -> sha256(x || '#2'))) AS minhash_2
            FROM (SELECT doc_id, text,
                    list_distinct(list_filter(string_split(lower(text), ' '),
                                              x -> x <> '')) AS toks
                  FROM documents)
            ORDER BY doc_id"""))

  /** MM1 ▸ multimodal binary-column plumbing: treat content as an opaque
    * binary payload and extract typed metadata (byte length + digest) —
    * the schema/partitioning shape of image/audio handling with the codec
    * replaced by deterministic byte-level ops (see
    * [[graft.multimodal.BinaryPipeline]] for the batched decode path).
    */
  private val mm1 = Q("mm1_binary_meta",
    (spark, dir) =>
      docs(spark, dir)
        .withColumn("payload", encode(col("text"), "UTF-8"))
        .select(col("doc_id"),
          octet_length(col("payload")).cast("int").as("n_bytes"),
          md5(col("payload")).as("payload_md5"))
        .orderBy("doc_id"),
    Some("""SELECT doc_id, CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
            md5(text) AS payload_md5
            FROM documents ORDER BY doc_id"""))

  /** MM2 ▸ frame-sampling plumbing for video-style payloads: each document
    * is treated as a fixed-stride frame sequence (64-char frames, capped at
    * 8 frames per row — the `maxFramesPerVideo` knob of a real sampler), a
    * generator explodes one row per sampled frame, and the per-frame
    * "decode" is a deterministic digest stand-in (no codecs in this
    * container — see [[graft.multimodal.BinaryPipeline]] for the batched
    * binary-decode architecture this feeds).
    *
    * Scale shape: row explosion is bounded (≤8× fan-out), everything is
    * codegen'd builtins, and the frame rows carry fixed-width columns only
    * — the variable-size payload never survives past the generator.
    */
  private val mm2 = Q("mm2_frame_sample",
    (spark, dir) =>
      docs(spark, dir)
        .withColumn("n_frames",
          greatest(least(ceil(length(col("text")) / lit(64.0)).cast("int"), lit(8)), lit(1)))
        .select(col("doc_id"), col("text"),
          explode(expr("sequence(0, n_frames - 1)")).as("frame_idx"))
        .withColumn("frame", expr("substr(text, frame_idx * 64 + 1, 64)"))
        .select(col("doc_id"), col("frame_idx"),
          length(col("frame")).cast("int").as("frame_len"),
          md5(encode(col("frame"), "UTF-8")).as("frame_md5"))
        .orderBy("doc_id", "frame_idx"),
    Some("""SELECT doc_id, frame_idx, CAST(length(frame) AS INTEGER) AS frame_len,
            md5(frame) AS frame_md5
            FROM (SELECT doc_id, frame_idx, substr(text, frame_idx * 64 + 1, 64) AS frame
                  FROM (SELECT doc_id, text,
                          unnest(range(0, greatest(least(
                            CAST(ceil(length(text) / 64.0) AS INTEGER), 8), 1)))
                            AS frame_idx
                        FROM documents))
            ORDER BY doc_id, frame_idx"""))

  val all: Seq[Q] = Seq(d1, d4, lang, qual, tok, fp, mm1, mm2)
}
