package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.enrich.Classifiers
import graft.etl.ExpressionPipeline

/** Reference-parity tests mirroring the reference's table-driven goldens
  * (SURVEY.md §5; fixtures FIXTURES.md §2): melt counts, illness
  * classifier incl. case-insensitivity + override precedence, platform
  * parse / manufacturer / technology tables, idempotent re-load.
  */
class ExpressionPipelineSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(8, appName = "etl-spec")

  // reference melt fixture: 3 genes × 2 samples (test_enhanced_etl.py:237-274)
  private def writeTsv(): String = {
    val dir = Files.createTempDirectory("graft-tsv-")
    val tsv =
      "Gene\tSRR1652895\tSRR1652896\n" +
        "ENSG00000000003\t1.735\t0.448\n" +
        "ENSG00000000005\t0.173\t0.448\n" +
        "ENSG00000000419\t4.689\t0.448\n"
    Files.writeString(Paths.get(dir.toString, "study.tsv"), tsv)
    s"$dir/study.tsv"
  }

  test("TSV scan + melt: 3x2 matrix -> 6 long rows with constants attached") {
    val m = ExpressionPipeline.readMatrix(spark, writeTsv())
    val long = ExpressionPipeline.melt(m, "SRP049820", "study.tsv", "hash123")
    assert(long.count() == 6)
    assert(long.columns.toSet == Set("gene_id", "sample_accession_code",
      "expression_value", "study_accession_code", "file_name", "file_hash"))
    val first = long.orderBy("gene_id", "sample_accession_code").head()
    assert(first.getAs[String]("gene_id") == "ENSG00000000003")
    assert(first.getAs[String]("sample_accession_code") == "SRR1652895")
    assert(first.getAs[Double]("expression_value") == 1.735)
    assert(first.getAs[String]("study_accession_code") == "SRP049820")
  }

  // reference classifier golden table (test_enhanced_etl.py:104-171)
  test("illness classifier: rule table, case-insensitive, override beats regex") {
    import spark.implicits._
    val cases = Seq(
      ("S1", "Patient with Septic Shock day 1", "SEPTIC_SHOCK", "rule"),
      ("S2", "SEPSIS cohort sample", "SEPSIS", "rule"),
      ("S3", "no sepsis control arm", "NO_SEPSIS", "rule"),
      ("S4", "Healthy control subject", "CONTROL", "rule"),
      ("S5", "unrelated title", "UNKNOWN", "default"),
      ("S6", "septic shock patient", "FORCED_LABEL", "override"))
    val df = cases.toDF("sample_accession_code", "refinebio_title", "exp_label", "exp_method")
    val (label, method) = Classifiers.classify(
      col("sample_accession_code"), col("refinebio_title"),
      Classifiers.illnessRules, Map("S6" -> "FORCED_LABEL"))
    val got = df.select(col("sample_accession_code"), label.as("label"),
      method.as("method"), col("exp_label"), col("exp_method"))
      .collect()
    got.foreach { r =>
      assert(r.getAs[String]("label") == r.getAs[String]("exp_label"),
        s"label for ${r.getAs[String]("sample_accession_code")}")
      assert(r.getAs[String]("method") == r.getAs[String]("exp_method"),
        s"method for ${r.getAs[String]("sample_accession_code")}")
    }
  }

  // config-as-data: rules come from an external JSON file; editing the
  // file changes classification with NO code change (reference:
  // Config/config.yaml:26-93 parsed at enhanced_main_etl.py:220-295)
  test("classifier rules load from a config file; editing config changes labels") {
    import spark.implicits._
    import graft.enrich.RulesConfig
    val df = Seq(("S1", "flu season cohort"), ("S2", "sepsis patient"))
      .toDF("key", "title")
    // fixture config: a NEW rule ("flu" -> INFLUENZA), sepsis rule dropped,
    // custom default + override section
    val cfgPath = Files.createTempDirectory("graft-rules-").resolve("rules.json")
    Files.writeString(cfgPath,
      """{
        |  "illness_rules": [{"priority": 5, "pattern": "flu", "label": "INFLUENZA"}],
        |  "overrides": {"S2": "QUARANTINE"},
        |  "default_label": "UNCLASSIFIED",
        |  "manufacturers": [{"match": "oxford", "name": "Oxford Nanopore"}]
        |}""".stripMargin)
    val rules = RulesConfig.load(cfgPath.toString)
    val (label, _) = Classifiers.classifyWith(col("key"), col("title"), rules)
    val got = df.select(col("key"), label.as("label")).orderBy("key").collect()
    assert(got(0).getAs[String]("label") == "INFLUENZA") // new config rule fires
    assert(got(1).getAs[String]("label") == "QUARANTINE") // config override beats old rule
    // manufacturers table is config data too
    val m = Seq("Oxford Nanopore MinION", "Illumina HiSeq").toDF("p")
      .select(Classifiers.manufacturer(col("p"), rules.manufacturers).as("m"))
      .collect().map(_.getString(0))
    assert(m.toSeq == Seq("Oxford Nanopore", "Unknown")) // illumina absent in this config
    // and the default (shipped) config still classifies the old way —
    // proving the two configs differ only by data
    val (defLabel, _) = Classifiers.classifyWith(col("key"), col("title"), RulesConfig.default)
    val defGot = df.select(col("key"), defLabel.as("label")).orderBy("key").collect()
    assert(defGot(0).getAs[String]("label") == "UNKNOWN")
    assert(defGot(1).getAs[String]("label") == "SEPSIS")
  }

  // platform golden (test_enhanced_etl.py:176-229; FIXTURES.md §2.2):
  // "Illumina Genome Analyzer (GPL1111)" -> (GPL1111, Illumina Genome Analyzer, Illumina, RNA-SEQ)
  test("platform parse / manufacturer / technology golden table") {
    import spark.implicits._
    val df = Seq(
      ("SRRX", "Illumina Genome Analyzer (GPL1111)", "RNA-SEQ expression profiling"),
      ("SRRY", "Affymetrix Human Genome U133 (hgu133plus2)", "Microarray"),
      ("SRRZ", "CustomChip", ""))
      .toDF("sample_accession_code", "refinebio_platform", "study_technology")
    val (acc, name) = Classifiers.platformParts(col("refinebio_platform"))
    val got = df.select(
      col("sample_accession_code"), acc, name,
      Classifiers.manufacturer(col("refinebio_platform")).as("manufacturer"),
      Classifiers.technology(col("study_technology"), col("refinebio_platform")).as("tech"))
      .orderBy("sample_accession_code").collect()
    assert(got(0).getAs[String]("platform_accession") == "GPL1111")
    assert(got(0).getAs[String]("platform_name") == "Illumina Genome Analyzer")
    assert(got(0).getAs[String]("manufacturer") == "Illumina")
    assert(got(0).getAs[String]("tech") == "RNA-SEQ")
    assert(got(1).getAs[String]("platform_accession") == "hgu133plus2")
    assert(got(1).getAs[String]("manufacturer") == "Affymetrix")
    assert(got(1).getAs[String]("tech") == "MICROARRAY")
    // bare token duplicates into both fields, unknown manufacturer/tech
    assert(got(2).getAs[String]("platform_accession") == "CustomChip")
    assert(got(2).getAs[String]("platform_name") == "CustomChip")
    assert(got(2).getAs[String]("manufacturer") == "Unknown")
    assert(got(2).getAs[String]("tech") == "OTHER")
  }

  test("end-to-end study load: key resolution, quarantine, idempotent re-load") {
    import spark.implicits._
    val m = ExpressionPipeline.readMatrix(spark, writeTsv())
    val long = ExpressionPipeline.melt(m, "SRP049820", "study.tsv", "hash123")
    // dim covers only one of the two samples -> other goes to quarantine
    val samples = Seq(
      ("SRR1652895", "septic shock patient", "Homo sapiens",
        "Illumina Genome Analyzer (GPL1111)", "RNA-SEQ"))
      .toDF("sample_accession_code", "refinebio_title", "refinebio_organism",
        "refinebio_platform", "study_technology")
    val dim = ExpressionPipeline.sampleDim(samples, Map.empty)
    val (facts, quarantine) = ExpressionPipeline.resolveFacts(long, dim)
    assert(facts.count() == 3)
    assert(quarantine.count() == 3)
    assert(facts.filter(col("expression_log2_value").isNull).count() == 0)
    // reconciliation: rows_fact == genes × resolved samples (A5)
    assert(facts.count() == 3 * 1)
    // idempotency: re-loading the same file appends nothing
    val again = ExpressionPipeline.idempotentAppend(facts, facts)
    assert(again.count() == 0)
    // a new file hash loads fresh
    val long2 = ExpressionPipeline.melt(m, "SRP049820", "study2.tsv", "hash456")
    val (facts2, _) = ExpressionPipeline.resolveFacts(long2, dim)
    assert(ExpressionPipeline.idempotentAppend(facts, facts2).count() == 3)
  }

  test("fixture TSV written under a comma-decimal default locale still parses as doubles") {
    val saved = java.util.Locale.getDefault
    val tsv =
      try {
        java.util.Locale.setDefault(java.util.Locale.GERMANY)
        ExpressionPipeline.fixtureTsv(nGenes = 4, nSamples = 3)
      } finally java.util.Locale.setDefault(saved)
    val dir = Files.createTempDirectory("graft-tsv-locale-")
    val path = Paths.get(dir.toString, "matrix.tsv")
    Files.writeString(path, tsv)
    val m = ExpressionPipeline.readMatrix(spark, path.toString)
    val samples = m.columns.filter(_ != "Gene")
    assert(samples.length == 3)
    val rows = m.collect()
    assert(rows.length == 4)
    // every cell is a parsed double equal to its decimal-point text
    val cells = tsv.split("\n").drop(1).map(_.split("\t").drop(1).map(_.toDouble))
    rows.sortBy(_.getAs[String]("Gene").stripPrefix("GENE").toInt).zip(cells).foreach {
      case (r, want) =>
        samples.zip(want).foreach { case (c, v) =>
          assert(!r.isNullAt(r.fieldIndex(c)), s"${r.getAs[String]("Gene")}.$c parsed to null")
          assert(r.getAs[Double](c) == v)
        }
    }
  }

  test("the ep1 oracle reads the ep1 metadata document, not the c4/c6 fixture") {
    val sql = ExpressionPipeline.ep1.oracle.get
    assert(sql.contains(s"read_json('${ExpressionPipeline.ep1MetaPath}'"))
    assert(!sql.contains(graft.sources.JsonMetadata.fixturePath))
  }
}
