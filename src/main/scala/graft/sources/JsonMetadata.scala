package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.analytics.RelationalQueries.Q
import graft.enrich.Classifiers

/** S2/C7 ▸ the JSON metadata source: a nested single-document JSON file
  * with map-shaped `experiments{}` / `samples{}` sections and array fields
  * (`organisms[]`, `sample_accession_codes[]`), read and flattened into
  * study/sample dimension inputs (reference: extract_json_metadata +
  * _transform_study, Scripts/python/enhanced_main_etl.py:344-373,642-653;
  * goldens test_enhanced_etl.py:276-324).
  *
  * Spark mapping: the document parses against an explicit schema whose
  * `experiments`/`samples` sections are `MapType(String, Struct)` — the
  * scalable shape, since study/sample accessions are DATA (map keys), not
  * schema. `explode(map_entries(...))` flattens each map to rows;
  * `element_at(organisms, 1)` is the head-of-array study projection (C7).
  * Everything is builtin Catalyst — no UDFs.
  *
  * The fixture is generated deterministically (seed-fixed splitmix64 — no
  * external data) and shaped like the reference's aggregated_metadata.json.
  */
object JsonMetadata {

  // ---- schema (the contract of the metadata document) ----

  val sampleSchema: StructType = StructType(Seq(
    StructField("refinebio_title", StringType),
    StructField("refinebio_organism", StringType),
    StructField("refinebio_platform", StringType),
    StructField("refinebio_processed", BooleanType)))

  val experimentSchema: StructType = StructType(Seq(
    StructField("title", StringType),
    StructField("technology", StringType),
    StructField("pubmed_id", StringType),
    StructField("organisms", ArrayType(StringType)),
    StructField("sample_accession_codes", ArrayType(StringType))))

  val docSchema: StructType = StructType(Seq(
    StructField("created_at", StringType),
    StructField("aggregate_by", StringType),
    StructField("quantile_normalized", BooleanType),
    StructField("ks_statistic", DoubleType),
    StructField("experiments", MapType(StringType, experimentSchema)),
    StructField("samples", MapType(StringType, sampleSchema))))

  // ---- read path ----

  /** Read the whole-file JSON document against [[docSchema]]. Whole-file
    * text + `from_json` (rather than schema inference) because the
    * experiments/samples keys are accessions: inference would mint one
    * struct field per study — unbounded schema. One document per file;
    * many files parallelize by file.
    */
  def readDoc(spark: SparkSession, path: String): DataFrame =
    spark.read.option("wholetext", "true").text(path)
      .select(from_json(col("value"), docSchema).as("doc"))
      .select(col("doc.*"))

  /** Study dimension records (C7): one row per experiments{} entry,
    * `organisms[0]` head-of-array, sample count from the membership list.
    */
  def studies(doc: DataFrame): DataFrame =
    doc.select(explode(map_entries(col("experiments"))).as("e"))
      .select(
        col("e.key").as("study"),
        col("e.value.title").as("title"),
        col("e.value.technology").as("technology"),
        col("e.value.pubmed_id").as("pubmed_id"),
        element_at(col("e.value.organisms"), 1).as("organism"),
        // size(null) is -1 under Spark's legacy sizeOfNull default — an
        // experiment omitting the array must report NULL (the DuckDB
        // twin's len() semantics), not a nonsense -1 sample count
        when(col("e.value.sample_accession_codes").isNotNull,
          size(col("e.value.sample_accession_codes"))).as("n_samples"))

  /** Sample records joined to their study membership (S2): samples{} map
    * exploded, membership from each experiment's sample_accession_codes
    * list, platform split into (accession, name) — reference C2 parse.
    */
  def samples(doc: DataFrame): DataFrame = {
    val membership = doc
      .select(explode(map_entries(col("experiments"))).as("e"))
      .select(col("e.key").as("study"),
        explode(col("e.value.sample_accession_codes")).as("sample_accession"))
    val samp = doc.select(explode(map_entries(col("samples"))).as("s"))
      .select(
        col("s.key").as("sample_accession"),
        col("s.value.refinebio_title").as("sample_title"),
        col("s.value.refinebio_organism").as("organism"),
        col("s.value.refinebio_platform").as("platform"))
    val (acc, name) = Classifiers.platformParts(col("platform"))
    samp.join(membership, Seq("sample_accession"))
      .select(col("sample_accession"), col("study"), col("sample_title"),
        col("organism"), acc, name)
  }

  // ---- deterministic fixture (reference-shaped; no external data) ----

  @inline private def mix(z0: Long): Long = graft.functions.Splitmix.mix(z0)
  @inline private def pick[A](xs: IndexedSeq[A], seed: Long, a: Long, b: Long): A =
    xs(((mix(mix(seed ^ a) ^ b) % xs.length).toInt + xs.length) % xs.length)

  private val titles = IndexedSeq(
    "Septic shock patient whole blood",
    "Sepsis case day 1 PBMC",
    "Healthy control donor",
    "No sepsis ICU admission",
    "Normal tissue baseline",
    "Non-septic trauma cohort")
  private val platforms = IndexedSeq(
    "Illumina HiSeq 2000 (IlluminaHiSeq2000)",
    "Affymetrix Human Genome U133 Plus 2.0 (hgu133plus2)",
    "Agilent-014850 Whole Genome (GPL6480)",
    "NextSeq550")
  private val organisms = IndexedSeq("HOMO_SAPIENS", "MUS_MUSCULUS", "RATTUS_NORVEGICUS")
  private val technologies = IndexedSeq("RNA-SEQ", "MICROARRAY")

  private def esc(s: String): String = s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  /** Reference-shaped metadata document: `nStudies` experiments each owning
    * `samplesPerStudy` samples, stable key order, all values pure functions
    * of (seed, index).
    */
  def fixtureJson(nStudies: Int = 6, samplesPerStudy: Int = 8, seed: Long = 42L): String = {
    val sb = new StringBuilder
    sb ++= """{"created_at": "2024-01-01T00:00:00Z", "aggregate_by": "EXPERIMENT", """
    sb ++= """"quantile_normalized": true, "ks_statistic": 0.125, "experiments": {"""
    val studyIds = (0 until nStudies).map(i => f"SRP${100000 + i * 37}%06d")
    def sampleIds(s: Int) = (0 until samplesPerStudy).map(j => f"SRS${1000000 + s * 1000 + j * 13}%07d")
    sb ++= studyIds.zipWithIndex.map { case (sid, i) =>
      val orgs = organisms.drop(i % 2).take(1 + (i % 2)) // 1 or 2 organisms
      s""""$sid": {"title": "${esc(pick(titles, seed, i, 1))} study $i", """ +
        s""""technology": "${pick(technologies, seed, i, 2)}", """ +
        s""""pubmed_id": "${30000000 + i * 991}", """ +
        s""""organisms": [${orgs.map(o => s""""$o"""").mkString(", ")}], """ +
        s""""sample_accession_codes": [${sampleIds(i).map(x => s""""$x"""").mkString(", ")}]}"""
    }.mkString(", ")
    sb ++= """}, "samples": {"""
    sb ++= studyIds.indices.flatMap { i =>
      sampleIds(i).zipWithIndex.map { case (acc, j) =>
        s""""$acc": {"refinebio_title": "${esc(pick(titles, seed, i * 100 + j, 3))} rep $j", """ +
          s""""refinebio_organism": "${pick(organisms, seed, i * 100 + j, 4)}", """ +
          s""""refinebio_platform": "${esc(pick(platforms, seed, i * 100 + j, 5))}", """ +
          s""""refinebio_processed": ${(j % 3) != 0}}"""
      }
    }.mkString(", ")
    sb ++= "}}"
    sb.toString
  }

  /** Write the fixture document. Content-skip + atomic move, NOT a plain
    * truncating write: the path is shared (the DuckDB oracle reads the
    * same file, possibly from another process), and Files.write truncates
    * before writing — a reader landing in that window parses cut-off JSON
    * into a null doc and silently returns 0 rows.
    */
  def writeFixture(path: String, json: String): Unit = {
    val p = Paths.get(path)
    Files.createDirectories(p.getParent)
    val bytes = json.getBytes(StandardCharsets.UTF_8)
    if (Files.exists(p) && java.util.Arrays.equals(Files.readAllBytes(p), bytes)) return
    val tmp = p.resolveSibling(
      s"${p.getFileName}.tmp-${java.util.UUID.randomUUID.toString.take(8)}")
    Files.write(tmp, bytes)
    Files.move(tmp, p, java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    ()
  }

  // ---- driver catalog entries ----

  private[graft] val fixturePath = "/tmp/graft_oracle/metadata.json"

  private def fixtureDoc(spark: SparkSession): DataFrame = {
    writeFixture(fixturePath, fixtureJson())
    readDoc(spark, fixturePath)
  }

  private val platformRe = """^(.*)\(([^)]+)\)\s*$"""

  /** DuckDB reads the metadata document at `path` with MAP-typed
    * columns; parallel unnest of map_keys/map_values is the
    * explode(map_entries) twin.
    */
  private[graft] def duckMaps(path: String): String =
    s"""read_json('$path', columns={
        experiments: 'MAP(VARCHAR, STRUCT(title VARCHAR, technology VARCHAR,
                           pubmed_id VARCHAR, organisms VARCHAR[],
                           sample_accession_codes VARCHAR[]))',
        samples: 'MAP(VARCHAR, STRUCT(refinebio_title VARCHAR,
                       refinebio_organism VARCHAR, refinebio_platform VARCHAR,
                       refinebio_processed BOOLEAN))'})"""

  private val s2 = Q("s2_json_metadata",
    (spark, _) => samples(fixtureDoc(spark)).orderBy("study", "sample_accession"),
    Some(s"""WITH doc AS (SELECT * FROM ${duckMaps(fixturePath)}),
          mem AS (SELECT unnest(map_keys(experiments)) AS study,
                         unnest(map_values(experiments)) AS ev FROM doc),
          memx AS (SELECT study, unnest(ev.sample_accession_codes) AS sample_accession FROM mem),
          smp AS (SELECT unnest(map_keys(samples)) AS sample_accession,
                         unnest(map_values(samples)) AS sv FROM doc)
          SELECT s.sample_accession, m.study,
                 sv.refinebio_title AS sample_title,
                 sv.refinebio_organism AS organism,
                 coalesce(nullif(regexp_extract(sv.refinebio_platform, '$platformRe', 2), ''),
                          trim(sv.refinebio_platform)) AS platform_accession,
                 coalesce(nullif(trim(regexp_extract(sv.refinebio_platform, '$platformRe', 1)), ''),
                          trim(sv.refinebio_platform)) AS platform_name
          FROM smp s JOIN memx m ON m.sample_accession = s.sample_accession
          ORDER BY m.study, s.sample_accession"""))

  /** Input shape of [[graft.etl.ExpressionPipeline.sampleDim]]: samples{}
    * flattened with each sample's owning study and the study-level
    * technology string. A deterministic third of the samples get a BLANK
    * study_technology so the driver-checked result exercises
    * [[Classifiers.technology]]'s platform-fallback arm, not just the
    * study-technology fast path.
    */
  private[graft] def samplesWithTech(doc: DataFrame): DataFrame = {
    val tech = doc.select(explode(map_entries(col("experiments"))).as("e"))
      .select(col("e.key").as("study"),
        col("e.value.technology").as("raw_tech"),
        explode(col("e.value.sample_accession_codes")).as("sample_accession_code"))
    val samp = doc.select(explode(map_entries(col("samples"))).as("s"))
      .select(col("s.key").as("sample_accession_code"),
        col("s.value.refinebio_title").as("refinebio_title"),
        col("s.value.refinebio_organism").as("refinebio_organism"),
        col("s.value.refinebio_platform").as("refinebio_platform"))
    samp.join(tech, Seq("sample_accession_code"))
      .withColumn("study_technology",
        when(substring(col("sample_accession_code"), 4, 16).cast("long") % 3 === 0,
          lit("")).otherwise(col("raw_tech")))
      .drop("raw_tech")
  }

  /** The DuckDB twin of the blanked study_technology above. */
  private val duckTech =
    """CASE WHEN CAST(substr(sample_accession_code, 4) AS BIGINT) % 3 = 0
            THEN '' ELSE tech END"""

  /** Normalized descriptor (trim → collapse [-_]+ → collapse ws → lower)
    * over coalesce(study tech, platform) — the SQL twin of
    * [[Classifiers.normalizeDescriptor]]∘coalesce.
    */
  private def duckDescriptor(techExpr: String, platformExpr: String) =
    s"""lower(regexp_replace(regexp_replace(trim(coalesce(
          nullif(trim($techExpr), ''), $platformExpr)),
          '[-_]+', ' ', 'g'), '\\s+', ' ', 'g'))"""

  /** C4 ▸ measurement-technology inference on the driver-checked path:
    * study technology string wins when present, platform descriptor is
    * the fallback, both through the normalize → rlike chain (reference:
    * _infer_measurement_technology, Scripts/python/enhanced_main_etl.py:46-80).
    */
  private val c4 = Q("c4_tech_inference",
    (spark, _) => {
      val sw = samplesWithTech(fixtureDoc(spark))
      sw.select(col("sample_accession_code"), col("study"),
        col("study_technology"), col("refinebio_platform").as("platform"),
        Classifiers.technology(col("study_technology"), col("refinebio_platform"))
          .as("measurement_technology"))
        .orderBy("sample_accession_code")
    },
    Some(s"""WITH doc AS (SELECT * FROM ${duckMaps(fixturePath)}),
          mem AS (SELECT unnest(map_keys(experiments)) AS study,
                         unnest(map_values(experiments)) AS ev FROM doc),
          memx AS (SELECT study, ev.technology AS tech,
                          unnest(ev.sample_accession_codes) AS sample_accession_code FROM mem),
          smp AS (SELECT unnest(map_keys(samples)) AS sample_accession_code,
                         unnest(map_values(samples)) AS sv FROM doc),
          j AS (SELECT s.sample_accession_code, m.study,
                       $duckTech AS study_technology,
                       sv.refinebio_platform AS platform
                FROM smp s JOIN memx m USING (sample_accession_code)),
          d AS (SELECT *, ${duckDescriptor("study_technology", "platform")} AS descr FROM j)
          SELECT sample_accession_code, study, study_technology, platform,
                 CASE WHEN regexp_matches(descr, 'rna ?seq|sequencing') THEN 'RNA-SEQ'
                      WHEN regexp_matches(descr, 'array|microarray|genechip|beadchip')
                        THEN 'MICROARRAY'
                      ELSE 'OTHER' END AS measurement_technology
          FROM d ORDER BY sample_accession_code"""))

  /** C6 ▸ the full sample-dimension transform on the driver-checked path —
    * [[graft.etl.ExpressionPipeline.sampleDim]] verbatim: illness classify
    * (C1, override beats rule — one planted override), platform parse
    * (C2), manufacturer lookup (C3) and technology inference (C4) in one
    * projection (reference: _transform_sample,
    * Scripts/python/enhanced_main_etl.py:642-676).
    */
  private val c6Override: (String, String) = "SRS1000000" -> "OVERRIDE_LAB"

  private val c6 = Q("c6_sample_transform",
    (spark, _) => {
      val sw = samplesWithTech(fixtureDoc(spark))
      graft.etl.ExpressionPipeline.sampleDim(sw, Map(c6Override))
        .orderBy("sample_accession_code")
    },
    Some {
      val (oKey, oLabel) = c6Override
      // the shipped default rule set (RulesConfig.defaultJson), restated
      val ruleChain =
        """CASE WHEN regexp_matches(title, 'septic[ _-]?shock', 'i') THEN 'SEPTIC_SHOCK'
                WHEN regexp_matches(title, 'no[ _-]?sepsis|non[ _-]?septic', 'i') THEN 'NO_SEPSIS'
                WHEN regexp_matches(title, 'sepsis|septic', 'i') THEN 'SEPSIS'
                WHEN regexp_matches(title, 'control|healthy|normal', 'i') THEN 'CONTROL' END"""
      s"""WITH doc AS (SELECT * FROM ${duckMaps(fixturePath)}),
          mem AS (SELECT unnest(map_keys(experiments)) AS study,
                         unnest(map_values(experiments)) AS ev FROM doc),
          memx AS (SELECT study, ev.technology AS tech,
                          unnest(ev.sample_accession_codes) AS sample_accession_code FROM mem),
          smp AS (SELECT unnest(map_keys(samples)) AS sample_accession_code,
                         unnest(map_values(samples)) AS sv FROM doc),
          j AS (SELECT s.sample_accession_code,
                       sv.refinebio_title AS title,
                       sv.refinebio_organism AS organism,
                       sv.refinebio_platform AS platform,
                       $duckTech AS study_technology
                FROM smp s JOIN memx m USING (sample_accession_code)),
          d AS (SELECT *, ${duckDescriptor("study_technology", "platform")} AS descr FROM j)
          SELECT sample_accession_code, title AS sample_title, organism,
                 coalesce(CASE WHEN sample_accession_code = '$oKey' THEN '$oLabel' END,
                          $ruleChain, 'UNKNOWN') AS illness_label,
                 CASE WHEN sample_accession_code = '$oKey' THEN 'override'
                      WHEN $ruleChain IS NOT NULL THEN 'rule'
                      ELSE 'default' END AS illness_method,
                 coalesce(nullif(regexp_extract(platform, '$platformRe', 2), ''),
                          trim(platform)) AS platform_accession,
                 coalesce(nullif(trim(regexp_extract(platform, '$platformRe', 1)), ''),
                          trim(platform)) AS platform_name,
                 CASE WHEN contains(lower(platform), 'illumina') THEN 'Illumina'
                      WHEN contains(lower(platform), 'affymetrix') THEN 'Affymetrix'
                      WHEN contains(lower(platform), 'agilent') THEN 'Agilent'
                      WHEN contains(lower(platform), 'nanostring') THEN 'NanoString'
                      ELSE 'Unknown' END AS manufacturer,
                 CASE WHEN regexp_matches(descr, 'rna ?seq|sequencing') THEN 'RNA-SEQ'
                      WHEN regexp_matches(descr, 'array|microarray|genechip|beadchip')
                        THEN 'MICROARRAY'
                      ELSE 'OTHER' END AS measurement_technology
          FROM d ORDER BY sample_accession_code"""
    })

  private val c7 = Q("c7_study_transform",
    (spark, _) => studies(fixtureDoc(spark)).orderBy("study"),
    Some(s"""WITH doc AS (SELECT * FROM ${duckMaps(fixturePath)}),
          e AS (SELECT unnest(map_keys(experiments)) AS study,
                       unnest(map_values(experiments)) AS ev FROM doc)
          SELECT study, ev.title AS title, ev.technology AS technology,
                 ev.pubmed_id AS pubmed_id,
                 ev.organisms[1] AS organism,
                 CAST(len(ev.sample_accession_codes) AS INTEGER) AS n_samples
          FROM e ORDER BY study"""))

  val all: Seq[Q] = Seq(s2, c4, c6, c7)
}
