package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.ExpressionPipeline
import graft.sources.JsonMetadata

/** End-to-end S2/C7 coverage mirroring the reference's JSON metadata
  * goldens (reference: test_enhanced_etl.py:276-324 — study fields,
  * sample counts, organisms head-of-array).
  */
class JsonMetadataSpec extends AnyFunSuite {

  lazy val spark = Sessions.local(8, appName = "jsonmeta-spec")

  private lazy val path = {
    val p = Files.createTempDirectory("graft-meta-").toString + "/aggregated_metadata.json"
    JsonMetadata.writeFixture(p, JsonMetadata.fixtureJson(nStudies = 3, samplesPerStudy = 4))
    p
  }

  test("oracle SQL reads the document it names: duckMaps embeds its path, ep1 names its own file") {
    val p = "/elsewhere/metadata_other.json"
    val sql = JsonMetadata.duckMaps(p)
    assert(sql.contains(s"read_json('$p'") && !sql.contains(JsonMetadata.fixturePath))
    val ep1 = ExpressionPipeline.ep1.oracle.get
    assert(ep1.contains(s"read_json('${ExpressionPipeline.ep1MetaPath}'"))
    assert(!ep1.contains(JsonMetadata.fixturePath))
  }

  test("S2: document parses against the map-typed schema with all sections") {
    val doc = JsonMetadata.readDoc(spark, path)
    val row = doc.collect()(0)
    assert(row.getAs[String]("created_at") == "2024-01-01T00:00:00Z")
    assert(row.getAs[Boolean]("quantile_normalized"))
    assert(row.getAs[Map[String, Any]]("experiments").size == 3)
    assert(row.getAs[Map[String, Any]]("samples").size == 12)
  }

  test("C7: study records project experiment fields + organisms[0]") {
    val st = JsonMetadata.studies(JsonMetadata.readDoc(spark, path))
      .orderBy("study").collect()
    assert(st.length == 3)
    val first = st(0)
    assert(first.getAs[String]("study") == "SRP100000")
    assert(first.getAs[Int]("n_samples") == 4)
    // organisms[0] head-of-array: study 0 has organisms drop(0).take(1) = first organism
    assert(first.getAs[String]("organism") == "HOMO_SAPIENS")
    assert(st(1).getAs[String]("organism") == "MUS_MUSCULUS") // study 1 drops 1
    assert(st.forall(r => r.getAs[String]("pubmed_id").nonEmpty))
  }

  test("S2: sample records resolve study membership and platform parse") {
    val s = JsonMetadata.samples(JsonMetadata.readDoc(spark, path))
    assert(s.count() == 12)
    // every sample belongs to exactly one study
    assert(s.groupBy("sample_accession").count().filter(col("count") > 1).count() == 0)
    // platform "Name (Accession)" parse goldens
    val parsed = s.select("platform_name", "platform_accession").distinct().collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(parsed.contains(("Illumina HiSeq 2000", "IlluminaHiSeq2000")) ||
      parsed.contains(("Affymetrix Human Genome U133 Plus 2.0", "hgu133plus2")) ||
      parsed.contains(("Agilent-014850 Whole Genome", "GPL6480")))
    // a bare token (no parens) duplicates into both fields
    parsed.filter(!_._1.contains(" ")).foreach { case (n, a) => assert(n == a) }
  }

  test("S2→C6 end-to-end: metadata feeds the sample-dimension transform") {
    val doc = JsonMetadata.readDoc(spark, path)
    val raw = doc.select(explode(map_entries(col("samples"))).as("s"))
      .select(col("s.key").as("sample_accession_code"),
        col("s.value.refinebio_title").as("refinebio_title"),
        col("s.value.refinebio_organism").as("refinebio_organism"),
        col("s.value.refinebio_platform").as("refinebio_platform"))
      .withColumn("study_technology", lit("RNA-SEQ"))
    val dim = ExpressionPipeline.sampleDim(raw, overrides = Map.empty)
    val labels = dim.select("sample_title", "illness_label").collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(labels.nonEmpty)
    labels.foreach { case (title, label) =>
      val t = title.toLowerCase
      if (t.contains("septic shock")) assert(label == "SEPTIC_SHOCK", title)
      else if (t.contains("no sepsis") || t.contains("non-septic")) assert(label == "NO_SEPSIS", title)
      else if (t.contains("sepsis")) assert(label == "SEPSIS", title)
      else if (t.contains("control") || t.contains("healthy") || t.contains("normal"))
        assert(label == "CONTROL", title)
    }
  }
}
