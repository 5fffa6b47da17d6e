package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.enrich.Classifiers

/** Spark-native restatement of the reference's full study pipeline
  * (EP1 trace, SURVEY.md §3): wide expression matrix (TSV) → melt →
  * metadata enrichment (illness / platform / technology classification) →
  * dimension records → key-resolved fact rows with idempotent anti-join
  * dedup.
  *
  * Where the reference streams pandas chunks into SQL Server MERGEs
  * (Scripts/python/enhanced_main_etl.py:375-996), this is one declarative
  * plan: the TSV scan parallelizes by file split, the melt is a Catalyst
  * Expand, dims are broadcast for key resolution, and the idempotency
  * anti-join replaces the staging PK. At 100 TB the same plan holds: scans
  * scale with splits, the only shuffle is the fact-side dedup, and dim
  * lookups stay broadcast.
  */
object ExpressionPipeline {

  /** S1 ▸ chunked TSV matrix scan: col 1 = Gene, remaining columns =
    * sample accessions (reference: extract_expression_matrix_streaming,
    * Scripts/python/enhanced_main_etl.py:375-410). Header-driven schema,
    * UTF-8 fixed (reference S3 encoding detection collapses to utf-8).
    */
  def readMatrix(spark: SparkSession, tsvPath: String): DataFrame = {
    // EXPLICIT header-driven schema (Gene string, every sample double):
    // inferSchema would (a) run a second full pass over the matrix only to
    // guess types and (b) let one stray non-numeric sentinel ('NA', '')
    // flip an entire sample column to string, silently nulling downstream
    // `> 0` / log2 arithmetic instead of quarantining the bad rows.
    // Reading the header costs one single-line job, not a corpus scan.
    import org.apache.spark.sql.types._
    val header = spark.read.text(tsvPath).head().getString(0)
    val fields = header.split("\t", -1).map { c =>
      if (c == "Gene") StructField("Gene", StringType) else StructField(c, DoubleType)
    }
    spark.read
      .option("sep", "\t")
      .option("header", "true")
      .option("encoding", "UTF-8")
      .option("mode", "PERMISSIVE") // malformed numeric → null → quarantine
      // VALIDATE each file's own header against the schema instead of
      // assigning columns positionally: over a directory/glob of chunks,
      // head() returns the header of an ARBITRARY file (Spark orders
      // splits by size), so a chunk whose sample columns are ordered
      // differently would otherwise have its values silently routed to
      // the wrong sample columns — enforceSchema=false turns that silent
      // corruption into a loud per-file header mismatch error.
      .option("enforceSchema", "false")
      .schema(StructType(fields))
      .csv(tsvPath)
  }

  /** P1+P2 ▸ melt wide → long and annotate constants (reference:
    * pd.melt + rename, Scripts/python/enhanced_main_etl.py:394-406).
    */
  def melt(matrix: DataFrame, study: String, fileName: String, fileHash: String): DataFrame = {
    val sampleCols = matrix.columns.filterNot(_ == "Gene")
    matrix.unpivot(
      Array(col("Gene")),
      sampleCols.map(col),
      "sample_accession_code", "expression_value")
      .withColumnRenamed("Gene", "gene_id")
      .withColumn("study_accession_code", lit(study))
      .withColumn("file_name", lit(fileName))
      .withColumn("file_hash", lit(fileHash))
  }

  /** C6 ▸ sample-dimension records from the metadata samples map:
    * illness classification (C1, override beats rule) + platform parse
    * (C2) + manufacturer (C3) + technology (C4).
    * `samples` columns: sample_accession_code, refinebio_title,
    * refinebio_organism, refinebio_platform, study_technology.
    */
  def sampleDim(samples: DataFrame, overrides: Map[String, String]): DataFrame = {
    val (label, method) = Classifiers.classify(
      col("sample_accession_code"), col("refinebio_title"),
      Classifiers.illnessRules, overrides)
    val (acc, name) = Classifiers.platformParts(col("refinebio_platform"))
    samples.select(
      col("sample_accession_code"),
      col("refinebio_title").as("sample_title"),
      col("refinebio_organism").as("organism"),
      label.as("illness_label"),
      method.as("illness_method"),
      acc, name,
      Classifiers.manufacturer(col("refinebio_platform")).as("manufacturer"),
      Classifiers.technology(col("study_technology"), col("refinebio_platform"))
        .as("measurement_technology"))
  }

  /** J1/J3 ▸ key resolution: long rows ⋈ sample dim (broadcast) with
    * null-key quarantine (P3: rows whose sample didn't resolve are
    * dropped to a side channel, not silently lost — reference:
    * dropna(subset=['sample_key']), Scripts/python/enhanced_main_etl.py:963-971).
    */
  def resolveFacts(longRows: DataFrame, sampleDim: DataFrame): (DataFrame, DataFrame) = {
    val flagged = resolveFactsFlagged(longRows, sampleDim)
    (flagged.filter(!col("_quarantined")).drop("_quarantined"),
      flagged.filter(col("_quarantined"))
        .drop("_quarantined", "gene_key", "expression_log2_value"))
  }

  /** Single-pass form of [[resolveFacts]]: one DataFrame carrying a
    * `_quarantined` flag. A caller that consumes BOTH sides of the pair
    * independently re-executes the scan + join once per side (the plans
    * share no physical stage without caching — at the stated 100 TB that
    * is double I/O); writing this flagged frame once, e.g. with
    * `partitionBy("_quarantined")`, routes facts and quarantine to their
    * channels in a single pass.
    */
  def resolveFactsFlagged(longRows: DataFrame, sampleDim: DataFrame): DataFrame = {
    val dim = sampleDim.select(
      col("sample_accession_code"),
      xxhash64(col("sample_accession_code")).as("sample_key"),
      col("illness_label"))
    longRows.join(broadcast(dim), Seq("sample_accession_code"), "left")
      .withColumn("_quarantined", col("sample_key").isNull)
      .withColumn("gene_key", xxhash64(col("gene_id")))
      .withColumn("expression_log2_value",
        when(col("expression_value") > 0, log(2.0, col("expression_value"))))
  }

  // ---- driver catalog entry: the S1 scan + P1/P2 melt, DuckDB-oracled ----

  /** Deterministic TSV expression-matrix fixture (reference shape:
    * gene rows × sample columns, Scripts/python/enhanced_main_etl.py:375-410).
    * Values carry 2 decimals so both engines parse the identical decimal
    * string to the identical double. Content-skip + atomic move, same
    * rationale as [[graft.sources.JsonMetadata.writeFixture]] (the DuckDB
    * oracle reads the same path, possibly from another process).
    */
  def fixtureTsv(nGenes: Int = 40, nSamples: Int = 8, seed: Long = 7L,
      sampleIds: Seq[String] = Nil): String = {
    @inline def mix(z: Long) = graft.functions.Splitmix.mix(z)
    val samples =
      if (sampleIds.nonEmpty) sampleIds
      else (0 until nSamples).map(j => f"SRS${2000000 + j * 17}%07d")
    val sb = new StringBuilder
    sb ++= ("Gene" +: samples).mkString("\t")
    sb += '\n'
    (0 until nGenes).foreach { i =>
      val vals = samples.indices.map { j =>
        val v = ((mix(mix(seed ^ i) ^ j) % 100000L + 100000L) % 100000L) / 100.0
        // Locale.ROOT: a comma-decimal default locale would write "123,45",
        // which Spark's DoubleType parse nulls and DuckDB types as VARCHAR.
        "%.2f".formatLocal(java.util.Locale.ROOT, v)
      }
      sb ++= (s"GENE$i" +: vals).mkString("\t")
      sb += '\n'
    }
    sb.toString
  }

  private val fixturePath = "/tmp/graft_oracle/expr_matrix.tsv"

  /** S1/P1/P2 ▸ the matrix pipeline head on the driver-checked path:
    * header-driven TSV scan → melt → annotate, against DuckDB's read_csv +
    * UNPIVOT over the same file.
    */
  val s1: graft.analytics.RelationalQueries.Q = graft.analytics.RelationalQueries.Q(
    "s1_matrix_melt",
    (spark, _) => {
      graft.sources.JsonMetadata.writeFixture(fixturePath, fixtureTsv())
      val m = readMatrix(spark, fixturePath)
      melt(m, study = "SRP000001", fileName = "expr_matrix.tsv", fileHash = "h0")
        .select(col("gene_id"), col("sample_accession_code"),
          round(col("expression_value"), 4).as("expression_value"),
          col("study_accession_code"), col("file_name"))
        .orderBy("gene_id", "sample_accession_code")
    },
    Some(s"""SELECT Gene AS gene_id, sample_accession_code,
          round(expression_value, 4) AS expression_value,
          'SRP000001' AS study_accession_code,
          'expr_matrix.tsv' AS file_name
        FROM (UNPIVOT (SELECT * FROM read_csv('$fixturePath', delim='\t', header=true))
              ON COLUMNS(* EXCLUDE (Gene))
              INTO NAME sample_accession_code VALUE expression_value)
        ORDER BY gene_id, sample_accession_code"""))

  /** EP1 ▸ the reference's full study-pipeline composition on the
    * driver-checked path: TSV melt (S1/P1) ⋈ metadata-derived sample
    * dimension (C6) with null-key quarantine flagging (P3) and the log2
    * computed column (P8) — the end-to-end trace of SURVEY §3 EP1
    * (reference: process_study, Scripts/python/enhanced_main_etl.py:920-996).
    * Six of the eight TSV sample columns resolve against the metadata
    * fixture's study-0 samples; two are UNKNOWN accessions, so the
    * quarantine arm carries real rows. Hash keys (xxhash64) are excluded
    * from the checked projection — DuckDB cannot replay Spark's xxhash64;
    * the quarantine flag derives from the same join miss, so key
    * resolution is still what the oracle checks.
    */
  private[graft] val ep1MetaPath = "/tmp/graft_oracle/metadata_ep1.json"
  private val ep1TsvPath = "/tmp/graft_oracle/expr_matrix_ep1.tsv"

  /** Study-0 sample accessions of the metadata fixture (JsonMetadata
    * sampleIds), plus two unknowns that must quarantine.
    */
  private def ep1Samples: Seq[String] =
    (0 until 6).map(j => f"SRS${1000000 + j * 13}%07d") ++
      Seq("SRS9999990", "SRS9999991")

  val ep1: graft.analytics.RelationalQueries.Q = graft.analytics.RelationalQueries.Q(
    "ep1_resolve_quarantine",
    (spark, _) => {
      import graft.sources.JsonMetadata
      JsonMetadata.writeFixture(ep1MetaPath, JsonMetadata.fixtureJson())
      JsonMetadata.writeFixture(ep1TsvPath, fixtureTsv(sampleIds = ep1Samples))
      val long = melt(readMatrix(spark, ep1TsvPath),
        study = "SRP100000", fileName = "expr_matrix_ep1.tsv", fileHash = "h1")
      val dim = sampleDim(
        JsonMetadata.samplesWithTech(JsonMetadata.readDoc(spark, ep1MetaPath)),
        overrides = Map.empty)
      resolveFactsFlagged(long, dim)
        .select(col("gene_id"), col("sample_accession_code"),
          round(col("expression_value"), 4).as("expression_value"),
          col("illness_label"), col("_quarantined").as("quarantined"),
          round(col("expression_log2_value"), 6).as("log2_value"))
        .orderBy("gene_id", "sample_accession_code")
    },
    Some {
      val ruleChain =
        """CASE WHEN regexp_matches(title, 'septic[ _-]?shock', 'i') THEN 'SEPTIC_SHOCK'
                WHEN regexp_matches(title, 'no[ _-]?sepsis|non[ _-]?septic', 'i') THEN 'NO_SEPSIS'
                WHEN regexp_matches(title, 'sepsis|septic', 'i') THEN 'SEPSIS'
                WHEN regexp_matches(title, 'control|healthy|normal', 'i') THEN 'CONTROL' END"""
      s"""WITH doc AS (SELECT * FROM ${graft.sources.JsonMetadata.duckMaps(ep1MetaPath)}),
          smp AS (SELECT unnest(map_keys(samples)) AS sample_accession_code,
                         unnest(map_values(samples)) AS sv FROM doc),
          dim AS (SELECT sample_accession_code,
                         coalesce($ruleChain, 'UNKNOWN') AS illness_label
                  FROM (SELECT sample_accession_code, sv.refinebio_title AS title FROM smp)),
          long AS (SELECT Gene AS gene_id, sample_accession_code,
                          expression_value
                   FROM (UNPIVOT (SELECT * FROM read_csv('$ep1TsvPath', delim='\t', header=true))
                         ON COLUMNS(* EXCLUDE (Gene))
                         INTO NAME sample_accession_code VALUE expression_value))
          SELECT l.gene_id, l.sample_accession_code,
                 round(l.expression_value, 4) AS expression_value,
                 d.illness_label,
                 d.sample_accession_code IS NULL AS quarantined,
                 round(CASE WHEN l.expression_value > 0
                            THEN log2(l.expression_value) END, 6) AS log2_value
          FROM long l LEFT JOIN dim d USING (sample_accession_code)
          ORDER BY l.gene_id, l.sample_accession_code"""
    })

  /** M5/J5 ▸ [[idempotentAppend]] on the driver-checked path: the incoming
    * batch replays file A in full (already loaded — every row must drop)
    * and carries file B twice (in-batch duplicate — must land once). The
    * oracle restates the guard with DISTINCT + NOT EXISTS over null-safe
    * equality (reference: staging PK + content-hash batch id,
    * Scripts/database_schema.sql:211).
    */
  private val m5TsvA = "/tmp/graft_oracle/expr_matrix_m5a.tsv"
  private val m5TsvB = "/tmp/graft_oracle/expr_matrix_m5b.tsv"

  val m5: graft.analytics.RelationalQueries.Q = graft.analytics.RelationalQueries.Q(
    "m5_idempotent_append",
    (spark, _) => {
      graft.sources.JsonMetadata.writeFixture(m5TsvA, fixtureTsv(seed = 7L))
      graft.sources.JsonMetadata.writeFixture(m5TsvB, fixtureTsv(seed = 11L))
      val a = melt(readMatrix(spark, m5TsvA), "SRP000001", "a.tsv", "ha")
      val b = melt(readMatrix(spark, m5TsvB), "SRP000001", "b.tsv", "hb")
      val incoming = a.unionByName(b).unionByName(b)
      idempotentAppend(target = a, incoming = incoming)
        .select(col("file_hash"), col("gene_id"), col("sample_accession_code"),
          round(col("expression_value"), 4).as("expression_value"))
        .orderBy("file_hash", "gene_id", "sample_accession_code")
    },
    Some(s"""WITH a AS (SELECT 'ha' AS file_hash, Gene AS gene_id,
                    sample_accession_code, expression_value
             FROM (UNPIVOT (SELECT * FROM read_csv('$m5TsvA', delim='\t', header=true))
                   ON COLUMNS(* EXCLUDE (Gene))
                   INTO NAME sample_accession_code VALUE expression_value)),
          b AS (SELECT 'hb' AS file_hash, Gene AS gene_id,
                    sample_accession_code, expression_value
             FROM (UNPIVOT (SELECT * FROM read_csv('$m5TsvB', delim='\t', header=true))
                   ON COLUMNS(* EXCLUDE (Gene))
                   INTO NAME sample_accession_code VALUE expression_value)),
          ded AS (SELECT DISTINCT * FROM (
                    SELECT * FROM a UNION ALL SELECT * FROM b UNION ALL SELECT * FROM b))
          SELECT d.file_hash, d.gene_id, d.sample_accession_code,
                 round(d.expression_value, 4) AS expression_value
          FROM ded d
          WHERE NOT EXISTS (SELECT 1 FROM a
            WHERE a.file_hash IS NOT DISTINCT FROM d.file_hash
              AND a.gene_id IS NOT DISTINCT FROM d.gene_id
              AND a.sample_accession_code IS NOT DISTINCT FROM d.sample_accession_code)
          ORDER BY d.file_hash, d.gene_id, d.sample_accession_code"""))

  val all: Seq[graft.analytics.RelationalQueries.Q] = Seq(s1, ep1, m5)

  /** M5/J5 ▸ idempotent append: anti-join away rows whose
    * (file_hash, gene_id, sample) identity is already in the target —
    * replaying the same file is a no-op (reference: staging PK +
    * content-hash batch id, Scripts/database_schema.sql:211).
    */
  def idempotentAppend(target: DataFrame, incoming: DataFrame): DataFrame = {
    val keys = Seq("file_hash", "gene_id", "sample_accession_code")
    // In-batch dedup FIRST: the anti-join only removes keys already in the
    // target — a key repeated inside one batch (a duplicated gene row in a
    // real matrix, a file listed twice) is new to the target and every
    // copy would append. The staging PK this replaces rejects the second
    // insert; first-row-wins matches it.
    // NULL-SAFE join condition: a row with a null key column (an empty
    // Gene cell nulled by the PERMISSIVE read) never matches itself under
    // plain equality, so every replay of the same file would re-append it
    // — exactly the duplicate this guard exists to reject. dropDuplicates
    // already treats nulls as equal; the anti-join must agree.
    val in = incoming.dropDuplicates(keys).as("i")
    val tgt = target.select(keys.map(col): _*).distinct().as("t")
    in.join(tgt, keys.map(k => col(s"i.$k") <=> col(s"t.$k")).reduce(_ && _), "left_anti")
  }
}
